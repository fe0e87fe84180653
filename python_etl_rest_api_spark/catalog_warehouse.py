"""Round-4 warehouse-analytics catalog entries: the join/agg shapes a
production Spark warehouse runs daily — three more TPC-H-profile
headliners (Q6 scan-pushdown, Q5 six-way star join, Q10 returned-value,
Q18 semi-join-on-aggregate), slowly-changing-dimension (SCD2) history
building, CDC snapshot diffing, DAU/WAU active-user rollups, an exact
cross-engine correlation matrix, ANN recall@k evaluation, and corpus
mixture/duplication dashboards for training-data curation.

The reference (a 313-line pandas/FastAPI technical test,
`etl/03_transform_and_load.py` + `api/main.py`) has none of these;
they extend its groupby/join surface (SURVEY.md §2 H/I families) with
the patterns the same user would need at 100 TB. Cross-engine
exactness follows the repo recipe (catalog.py header): decimal casts
for money sums, integer counts divided once in double, md5 for
portable hashing, identical IEEE expression trees on both sides.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _events, _t, query
from .catalog_ext import _COSINE_PAIR_SQL, _SRP_ORACLE_SQL
from .functions import intmoney
from .operators import similarity, twopass
from .session import broadcast_factscale, scratch_root, widen_scan

# layout_bucketed_join's once-per-(process, corpus) bucketed layout,
# guarded for concurrent catalog callers (REST threadpool); see the
# entry's docstring. sf_dir -> ((orders_table, customers_table),
# on-disk layout dir); the dir rides along so a dangling-catalog
# rebuild can delete the orphaned layout instead of leaking one per
# session restart (ADVICE r12)
_BKT_CACHE: dict[str, tuple[tuple[str, str], str]] = {}
_BKT_LOCK = threading.Lock()
# suffix source for the bucketed-table names: monotonic per process so
# rebuilt layouts (post-session-restart) can never reuse a name another
# corpus's live tables hold
_BKT_SEQ = itertools.count()

# ---------------------------------------------------------------------
# TPC-H-profile headliners
# ---------------------------------------------------------------------


@query("q6_forecast_revenue", """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
""")
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H-Q6-shaped forecast-revenue scan: the pure predicate-pushdown
    showcase. All three predicates are plain comparisons on stored
    columns, so every one reaches PushedFilters and parquet row-group
    stats prune before decode; the aggregate is a single decimal sum
    with map-side partials and a 1-row result. The discount bounds
    compare doubles against double literals — both engines parse 0.05
    to the identical IEEE double and read identical parquet bits, so
    the filter is exact without a pushdown-blocking decimal cast."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-01-01 00:00:00")
                  & (F.col("l_shipdate") < "1999-01-01 00:00:00")
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24))
          .select("l_extendedprice", "l_discount"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return li.agg(
        F.sum((price * disc).cast("decimal(18,4)")).cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@query("q5_local_supplier_volume", f"""
    SELECT n.n_name,
           CAST(SUM({intmoney.REV_UNITS_SQL}) AS DOUBLE) / 10000.0
             AS revenue
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                    AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
""")
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H-Q5-shaped local-supplier volume: the six-way star join.

    Join order is explicit, mirroring q9's r12 reorder (Catalyst does
    not reorder joins without CBO stats): lineitem is pruned 60M ->
    12M rows by a BROADCAST join against the ASIA-filtered
    supplier⋈nation⋈region dim chain BEFORE anything shuffles, so the
    one fact shuffle (li⋈orders on orderkey) carries the pruned
    (l_orderkey, s_nationkey, n_name, rev_u) quadruple instead of the
    full fact. The r12 form shuffle-joined the FULL lineitem against
    orders first and re-shuffled the join output on l_suppkey — two
    full-fact exchanges (plan-read); measured at the 100x point
    (same-session interleaved A/B): 4.0 -> 2.4 s min, value-identical
    on all 5 rows. The broadcast side is the REGION-filtered supplier
    keyed (s_suppkey, s_nationkey, n_name) — the same explicit
    supplier broadcast q9 ships (1/5 of it, here); customer stays
    declarative (fact-scale at 100 TB: AQE picks broadcast at test
    scale, shuffle on a cluster — and post-prune only ~2M joined rows
    reach it). Revenue in exact 1e-4 units projected before the
    joins; per-NATION groups are unbounded at scale, so the sums run
    as overflow-safe limb pairs.

    Scale safety (ADVICE r13 #1): the supplier chain is FACT-SCALE, so
    the explicit broadcast that wins at test scale OOMs executors at
    100 TB. The hint routes through session.broadcast_factscale — start
    the process with SPARK_GRAFT_NO_FACTSCALE_BROADCAST=1 (read once
    into ``Settings.factscale_broadcast``) on cluster deployments to
    drop it (threshold guidance in that helper's docstring); the
    bounded nation/region broadcasts stay unconditional."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1997-01-01 00:00:00")
                 & (F.col("o_orderdate") < "1998-01-01 00:00:00"))
         .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", intmoney.rev_units().alias("rev_u"))
    # ASIA suppliers with their nation name via the tiny broadcast dims
    sup = (s.join(F.broadcast(n.join(F.broadcast(r),
                                     n.n_regionkey == r.r_regionkey)),
                  s.s_nationkey == F.col("n_nationkey"))
           .select("s_suppkey", "s_nationkey", "n_name"))
    li2 = (li.join(broadcast_factscale(sup), li.l_suppkey == sup.s_suppkey)
           .select("l_orderkey", "s_nationkey", "n_name", "rev_u"))
    return (li2.join(o, F.col("l_orderkey") == o.o_orderkey)
            .join(c, (o.o_custkey == c.c_custkey)
                  & (F.col("s_nationkey") == c.c_nationkey))
            .groupBy("n_name")
            .agg(intmoney.limb_sum_double("rev_u", 10000.0)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name")))


@query("q10_returned_value", f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({intmoney.REV_UNITS_SQL}) AS DOUBLE) / 10000.0
             AS lost_revenue,
           n.n_name, c.c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY lost_revenue DESC, c_custkey LIMIT 20
""")
def q10_returned_value(spark, sf_dir):
    """TPC-H-Q10-shaped returned-item report: revenue lost to returns per
    customer in one quarter, top 20. The quarter filter lands on orders
    (selective, pushed), the returnflag filter on lineitem (pushed), the
    join shuffles only the two pre-filtered facts. Only nation is
    force-broadcast (tiny at any scale); customer is fact-scale at
    100 TB so its join stays declarative for AQE to size — broadcast
    at test scale, shuffle on a cluster. Top-20 is
    TakeOrderedAndProject — no global sort."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1997-10-01 00:00:00")
                 & (F.col("o_orderdate") < "1998-01-01 00:00:00"))
         .select("o_orderkey", "o_custkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", intmoney.rev_units().alias("rev_u")))
    cust = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey) \
            .select("c_custkey", "c_name", "c_acctbal", "n_name")
    # revenue in exact 1e-4 units projected before the joins; per-
    # customer groups are unbounded in principle -> limb-pair sums
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(cust, o.o_custkey == F.col("c_custkey"))
            .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
            .agg(intmoney.limb_sum_double("rev_u", 10000.0)
                 .alias("lost_revenue"))
            .select("c_custkey", "c_name", "lost_revenue", "n_name",
                    "c_acctbal")
            .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
            .limit(20))


@query("q18_large_orders", """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
""")
def q18_large_orders(spark, sf_dir):
    """TPC-H-Q18-shaped large-volume-customer report, ONE lineitem pass:
    the oracle's outer sum over joined lineitem rows is algebraically
    the per-order aggregate the HAVING already computed, so the
    qualifying (l_orderkey, sq) frame (~0.3% of orders) feeds the joins
    directly — no second lineitem scan, no semi-join, no re-aggregation
    of raw rows. EXACT for any input multiset, duplicates included: d
    duplicate order rows put d copies of sq into the (name, custkey,
    orderkey, date, totalprice) group either way (d*n_li lineitem rows
    summing to d*sq in the two-pass form; d pre-summed sq rows here).

    Per-order quantity sums run in integer CENTS (round(qty*100) as
    long — exact; per-order row counts make overflow unreachable) and
    convert once per qualifying order: cast(long)/100.0 is IEEE
    correctly-rounded division of an exactly-representable integer, so
    the final double equals the oracle's decimal->double cast
    bit-for-bit. The HAVING compares the same exact integers
    (sq_c > 30000 <=> decimal sq > 300).

    No forced broadcasts: the qualifying-key set GROWS with the data,
    so a broadcast hint that helps at test scale becomes a driver OOM
    at 100 TB — big joins orders via AQE's choice (broadcast while
    measured small, shuffle join co-partitioned on the aggregate's own
    l_orderkey exchange once it is not). Measured at the 100x point:
    11.0 -> 7.0 s solo.

    Measured dead end (r14, do not retry): explicitly broadcasting the
    post-HAVING (l_orderkey, sq_c) set — the r13-verdict suggestion —
    does convert the 100x orders SortMergeJoin to a hash join (7.12 ->
    6.54 s min over 8 interleaved reps, ~8%), but REGRESSES sf0.1 by
    27% (0.62 -> 0.79 s min): at the bench scale AQE already
    broadcasts this side, and the forced hint flips the build side so
    the plan loses the l_orderkey partitioning reuse and pays an extra
    exchange for the final rollup. The 100x gain is a fraction of the
    entry (the lineitem HAVING aggregate dominates); the sf0.1 loss is
    where the driver measures. Kept declarative."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty_c = intmoney.cents("l_quantity")  # floor form — no per-row BigDecimal
    big = (li.groupBy("l_orderkey").agg(F.sum(qty_c).alias("sq_c"))
           .filter(F.col("sq_c") > 30000))
    return (big.join(o, big.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                     "o_totalprice")
            .agg((F.sum("sq_c").cast("double") / F.lit(100.0))
                 .alias("sum_qty"))
            .select("c_name", "c_custkey", "o_orderkey",
                    F.to_date("o_orderdate").alias("order_date"),
                    "o_totalprice", "sum_qty")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100))


# ---------------------------------------------------------------------
# SCD2 dimension history (gaps-and-islands)
# ---------------------------------------------------------------------


@query("scd2_status_history", """
    WITH s AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders),
    g AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             SUM(CASE WHEN prev IS NULL OR prev <> o_orderstatus
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM s)
    SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
           o_orderstatus AS status,
           CAST(MIN(o_orderdate) AS DATE) AS valid_from,
           CAST(MAX(o_orderdate) AS DATE) AS valid_to,
           COUNT(*) AS n_orders
    FROM g GROUP BY o_custkey, version, o_orderstatus
""")
def scd2_status_history(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history build: collapse each
    customer's order-status timeline into contiguous validity intervals
    (gaps-and-islands: lag-change flag → running-sum version id →
    per-version min/max). This is how a 100 TB warehouse derives SCD2
    dims from an append-only event/fact stream: one (custkey) shuffle
    that BOTH window functions and the final groupBy reuse — Catalyst
    plans a single exchange for all three. Ties broken by orderkey so
    versioning is deterministic under any partitioning."""
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                    "o_orderkey")
    chg = F.when(
        F.lag("o_orderstatus").over(w_seq).isNull()
        | (F.lag("o_orderstatus").over(w_seq) != F.col("o_orderstatus")),
        1).otherwise(0)
    return (_t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderstatus", "o_orderdate",
                    "o_orderkey")
            .withColumn("version",
                        F.sum(chg).over(
                            w_seq.rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)))
            .groupBy(F.col("o_custkey").alias("custkey"),
                     F.col("version").cast("long").alias("version"),
                     F.col("o_orderstatus").alias("status"))
            .agg(F.to_date(F.min("o_orderdate")).alias("valid_from"),
                 F.to_date(F.max("o_orderdate")).alias("valid_to"),
                 F.count(F.lit(1)).alias("n_orders")))


# ---------------------------------------------------------------------
# CDC snapshot diff
# ---------------------------------------------------------------------


@query("cdc_snapshot_diff", """
    WITH snap_old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00'),
    snap_new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                  THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00')
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           o.o_orderstatus AS old_status, n.o_orderstatus AS new_status
    FROM snap_old o
    FULL OUTER JOIN snap_new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
""")
def cdc_snapshot_diff(spark, sf_dir):
    """Change-data-capture by snapshot diffing: classify every key as
    added / removed / changed between two table snapshots (here: an
    earlier orders snapshot vs a later one where rows before the
    retention window aged out, new rows arrived, and pre-1997 open
    orders were finalized to 'F'). One full outer join on the key with
    null-side classification — the canonical pattern for deriving a
    changelog from periodic full dumps when the source has no binlog.
    At 100 TB both snapshots shuffle once on the key; unchanged rows
    (the overwhelming majority) are dropped before any further
    processing, so the changelog that flows downstream is tiny."""
    o = _t(spark, sf_dir, "orders")
    snap_old = (o.filter(F.col("o_orderdate") < "2001-01-01 00:00:00")
                .select(F.col("o_orderkey").alias("old_key"),
                        F.col("o_orderstatus").alias("old_status"),
                        F.col("o_totalprice").alias("old_price")))
    snap_new = (o.filter(F.col("o_orderdate") >= "1995-07-01 00:00:00")
                .select(F.col("o_orderkey").alias("new_key"),
                        F.when(F.col("o_orderdate") < "1997-01-01 00:00:00",
                               "F").otherwise(F.col("o_orderstatus"))
                        .alias("new_status"),
                        F.col("o_totalprice").alias("new_price")))
    j = snap_old.join(snap_new,
                      snap_old.old_key == snap_new.new_key, "full_outer")
    return (j.filter(F.col("old_key").isNull()
                     | F.col("new_key").isNull()
                     | (F.col("old_status") != F.col("new_status"))
                     | (F.col("old_price") != F.col("new_price")))
            .select(F.coalesce("old_key", "new_key").alias("orderkey"),
                    F.when(F.col("old_key").isNull(), "added")
                    .when(F.col("new_key").isNull(), "removed")
                    .otherwise("changed").alias("change_type"),
                    "old_status", "new_status"))


# ---------------------------------------------------------------------
# DAU / WAU active-user rollup
# ---------------------------------------------------------------------


@query("events_dau_wau", """
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    expanded AS (
      SELECT user_id, d + CAST(g.i AS INTEGER) AS wd
      FROM ud, (SELECT unnest(range(0, 7)) AS i) g),
    wau AS (
      SELECT wd, COUNT(DISTINCT user_id) AS wau FROM expanded GROUP BY wd),
    dau AS (
      SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY d)
    SELECT dau.d AS day, dau.dau, wau.wau
    FROM dau JOIN wau ON wau.wd = dau.d
""")
def events_dau_wau(spark, sf_dir):
    """Daily + trailing-7-day active users. The WAU side uses the
    scalable covering-window idiom: each (user, day) fact explodes into
    the ≤7 window-end days it contributes to, then a plain per-day
    distinct count — O(7n) narrow rows instead of a per-day
    7-day-range self-join (O(n²) at scale) or a sliding distinct
    window (not partial-aggregatable). The initial DISTINCT collapses
    events to user-days BEFORE the 7× explode, so the multiplied
    volume is bounded by users×days, not raw events."""
    ud = (_events(spark, sf_dir)
          .select(F.to_date("ts").alias("d"), "user_id").distinct())
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    wau = (ud.select("user_id",
                     F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
                     "d")
           .select("user_id", F.date_add("d", F.col("i")).alias("wd"))
           .groupBy("wd").agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(wau, dau.d == wau.wd)
            .select(F.col("d").alias("day"), "dau", "wau"))


# ---------------------------------------------------------------------
# Exact cross-engine correlation matrix
# ---------------------------------------------------------------------

_CORR_PAIRS = [("l_quantity", "l_extendedprice"),
               ("l_quantity", "l_discount"),
               ("l_extendedprice", "l_discount"),
               ("l_extendedprice", "l_tax")]


def _corr_sql_block(x: str, y: str) -> str:
    """Pearson r from EXACT decimal sums, combined in double with a fixed
    expression tree (identical in the Spark build below)."""
    dx = f"CAST({x} AS DECIMAL(18,2))"
    dy = f"CAST({y} AS DECIMAL(18,2))"
    return f"""
      SELECT '{x}' AS x_col, '{y}' AS y_col,
             ROUND(
             (CAST(COUNT(*) AS DOUBLE)
               * CAST(SUM(CAST({dx} * {dy} AS DECIMAL(38,4))) AS DOUBLE)
              - CAST(SUM({dx}) AS DOUBLE) * CAST(SUM({dy}) AS DOUBLE))
             / (sqrt(CAST(COUNT(*) AS DOUBLE)
                  * CAST(SUM(CAST({dx} * {dx} AS DECIMAL(38,4))) AS DOUBLE)
                  - CAST(SUM({dx}) AS DOUBLE) * CAST(SUM({dx}) AS DOUBLE))
                * sqrt(CAST(COUNT(*) AS DOUBLE)
                  * CAST(SUM(CAST({dy} * {dy} AS DECIMAL(38,4))) AS DOUBLE)
                  - CAST(SUM({dy}) AS DOUBLE) * CAST(SUM({dy}) AS DOUBLE))),
             12) AS r
      FROM lineitem"""


@query("stats_corr_pairs",
       " UNION ALL ".join(_corr_sql_block(x, y) for x, y in _CORR_PAIRS))
def stats_corr_pairs(spark, sf_dir):
    """Pairwise Pearson correlation over lineitem measures, exact across
    engines: the five sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy)
    accumulate as DECIMAL (associative, order-independent — double sums
    would hash-mismatch under different partition fold orders), then one
    double-precision combine per pair with the IDENTICAL expression tree
    on both sides (sqrt is IEEE-754 correctly-rounded, so determinism
    survives it). All pairs compute in ONE scan pass — a single
    map-side-partial aggregate, no shuffle of anything wider than the
    12-number state. This, not F.corr, is the cross-engine-reproducible
    way; F.corr's streaming covariance update is fold-order-dependent."""
    li = _t(spark, sf_dir, "lineitem").select(
        *{c for pair in _CORR_PAIRS for c in pair})
    aggs = []
    for x, y in _CORR_PAIRS:
        dx = F.col(x).cast("decimal(18,2)")
        dy = F.col(y).cast("decimal(18,2)")
        tag = f"{x}__{y}"
        aggs += [
            F.sum(dx).alias(f"sx_{tag}"), F.sum(dy).alias(f"sy_{tag}"),
            F.sum((dx * dx).cast("decimal(38,4)")).alias(f"sxx_{tag}"),
            F.sum((dy * dy).cast("decimal(38,4)")).alias(f"syy_{tag}"),
            F.sum((dx * dy).cast("decimal(38,4)")).alias(f"sxy_{tag}"),
        ]
    stats = li.agg(F.count(F.lit(1)).alias("n"), *aggs)
    rows = []
    for x, y in _CORR_PAIRS:
        tag = f"{x}__{y}"
        n = F.col("n").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxx = F.col(f"sxx_{tag}").cast("double")
        syy = F.col(f"syy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        # ROUND(r, 12): tri-scale verification (sf0.1) exposed that once
        # the decimal sums' UNSCALED values pass 2^53, Spark's
        # BigDecimal.doubleValue and DuckDB's decimal->double conversion
        # can differ in the final ulp (two-step unscaled/10^scale
        # rounding vs correctly-rounded). The sufficient statistics stay
        # exact; only the published r is clamped to 12 decimals - full
        # fidelity for a correlation, immune to the conversion ulp.
        r = F.round((n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx)
                                           * F.sqrt(n * syy - sy * sy)), 12)
        rows.append(F.struct(F.lit(x).alias("x_col"),
                             F.lit(y).alias("y_col"), r.alias("r")))
    return (stats.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.x_col", "p.y_col", "p.r"))


# ---------------------------------------------------------------------
# ANN quality: recall@k of the SRP index vs exact ground truth
# ---------------------------------------------------------------------


@query("ann_recall_at_k", f"""
    WITH brute AS ({_COSINE_PAIR_SQL}),
         ann AS ({_SRP_ORACLE_SQL})
    SELECT b.qid, COUNT(a.vec_id) AS n_hits,
           CAST(COUNT(a.vec_id) AS DOUBLE) / 10 AS recall_at_10
    FROM brute b
    LEFT JOIN ann a ON a.qid = b.qid AND a.vec_id = b.vec_id
    GROUP BY b.qid
""")
def ann_recall_at_k(spark, sf_dir):
    """Recall@10 of the SRP-LSH index against brute-force ground truth —
    the metric that decides whether an ANN index is shippable. Composes
    the two verified top-k operators and joins their result sets per
    query; at scale the ground truth runs on a sampled query set (as
    here: the bounded query ids) while the index serves the full load,
    which is exactly how production recall monitoring works. Both
    branches and the join are value-hash-reproduced in SQL by reusing
    the two entries' own oracle texts as CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    brute = similarity.topk_bruteforce(emb, queries, k=10) \
        .select("qid", "vec_id")
    ann = similarity.topk_ann_srp(emb, queries, dim=64, k=10, bits=6) \
        .select(F.col("qid").alias("a_qid"), F.col("vec_id").alias("a_vid"))
    return (brute.join(ann, (brute.qid == ann.a_qid)
                       & (brute.vec_id == ann.a_vid), "left")
            .groupBy("qid")
            .agg(F.count("a_vid").alias("n_hits"),
                 (F.count("a_vid").cast("double") / 10)
                 .alias("recall_at_10")))


# ---------------------------------------------------------------------
# Corpus dashboards: mixture share, per-source duplication
# ---------------------------------------------------------------------


@query("docs_source_mix", """
    WITH s AS (
      SELECT source, lang,
             CAST(SUM(length(text) // 4) AS BIGINT) AS est_tokens,
             COUNT(*) AS n_docs
      FROM documents GROUP BY source, lang)
    SELECT source, lang, n_docs, est_tokens,
           CAST(est_tokens AS DOUBLE) / SUM(est_tokens) OVER () AS token_share
    FROM s
""")
def docs_source_mix(spark, sf_dir):
    """Training-mixture table: per (source, language) document and
    estimated-token counts with each cell's share of the corpus — the
    input to mixture-weight tuning before sampling. Integer token
    estimates sum exactly; the share divides once in double over a
    window whose input is the already-aggregated (tiny) cell table, so
    the global-total window costs nothing regardless of corpus size."""
    cells = (_t(spark, sf_dir, "documents")
             .groupBy("source", "lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.floor(F.length("text") / 4)).cast("long")
                  .alias("est_tokens")))
    total = Window.partitionBy()
    return cells.select(
        "source", "lang", "n_docs", "est_tokens",
        (F.col("est_tokens").cast("double")
         / F.sum("est_tokens").over(total)).alias("token_share"))


@query("dedup_ratio_by_source", """
    WITH c AS (
      SELECT source, md5(text) AS fp, COUNT(*) AS n
      FROM documents GROUP BY source, md5(text))
    SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_docs,
           CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n) AS dup_ratio
    FROM c GROUP BY source
""")
def dedup_ratio_by_source(spark, sf_dir):
    """Per-source exact-duplication dashboard: how much of each source
    is redundant bytes (the first number a curation run reports per
    crawl/feed). Shuffles only (source, 32-byte md5) pairs; the
    double division happens once per source on the aggregated counts."""
    return (_t(spark, sf_dir, "documents")
            .groupBy("source", F.md5("text").alias("fp"))
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("source")
            .agg(F.sum("n").cast("long").alias("n_docs"),
                 (F.sum("n") - F.count(F.lit(1))).cast("long")
                 .alias("n_dup_docs"),
                 ((F.sum("n") - F.count(F.lit(1))).cast("double")
                  / F.sum("n")).alias("dup_ratio")))


# ---------------------------------------------------------------------
# TPC-H Q7/Q14 profiles: bilateral trade volume, promo revenue share
# ---------------------------------------------------------------------


@query("q7_volume_shipping", f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM({intmoney.REV_UNITS_SQL}) AS DOUBLE) / 10000.0
             AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
""")
def q7_volume_shipping(spark, sf_dir):
    """TPC-H-Q7-shaped bilateral shipping volume: trade between two
    nations by direction and year. The nation pair predicate reaches
    supplier and customer THROUGH the tiny broadcast nation dim before
    either touches a fact table, shrinking both join inputs ~12x
    (2 of 25 nations); supplier rides a broadcast; the orders⋈customer
    and lineitem⋈orders joins stay declarative for AQE. The OR-of-pairs
    condition is evaluated post-join on two low-cardinality name
    columns — cheap, codegen'd, no cartesian."""
    n = _t(spark, sf_dir, "nation")
    pair = n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    s = (_t(spark, sf_dir, "supplier")
         .join(F.broadcast(pair.select(
             F.col("n_nationkey").alias("snk"),
             F.col("n_name").alias("supp_nation"))),
             F.col("s_nationkey") == F.col("snk"))
         .select("s_suppkey", "supp_nation"))
    c = (_t(spark, sf_dir, "customer")
         .join(F.broadcast(pair.select(
             F.col("n_nationkey").alias("cnk"),
             F.col("n_name").alias("cust_nation"))),
             F.col("c_nationkey") == F.col("cnk"))
         .select("c_custkey", "cust_nation"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        intmoney.rev_units().alias("rev_u"))
    # volume in exact 1e-4 units projected before the joins;
    # (nation-pair, year) groups are unbounded -> limb-pair sums
    return (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .filter(((F.col("supp_nation") == "NATION_1")
                     & (F.col("cust_nation") == "NATION_2"))
                    | ((F.col("supp_nation") == "NATION_2")
                       & (F.col("cust_nation") == "NATION_1")))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(intmoney.limb_sum_double("rev_u", 10000.0)
                 .alias("volume")))


@query("q14_promo_revenue_share", f"""
    SELECT CAST(strftime(l.l_shipdate, '%Y-%m') AS VARCHAR) AS ship_month,
           CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN {intmoney.REV_UNITS_SQL}
                 ELSE 0 END) AS DOUBLE)
               / CAST(SUM({intmoney.REV_UNITS_SQL})
                 AS DOUBLE) AS DOUBLE) AS promo_share_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY strftime(l.l_shipdate, '%Y-%m')
""")
def q14_promo_revenue_share(spark, sf_dir):
    """TPC-H-Q14-shaped promo revenue share by ship month: broadcast the
    part dim (a true dimension - orders of magnitude under the fact),
    conditional decimal aggregation, one double division per group at
    the end. The date filter pushes to the lineitem scan; part is
    column-pruned to (p_partkey, p_type) before the broadcast."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-01-01 00:00:00")
                  & (F.col("l_shipdate") < "1999-01-01 00:00:00"))
          .select("l_partkey", "l_extendedprice", "l_discount",
                  "l_shipdate"))
    rev = intmoney.rev_units()
    promo = F.when(F.col("p_type") == "PROMO", rev) \
        .otherwise(F.lit(0).cast("long"))
    # exact 1e-4 units on both legs of the ratio (the units cancel);
    # per-month groups are unbounded -> limb-pair sums
    pre = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .select("l_shipdate", promo.alias("promo_u"),
                   rev.alias("rev_u")))
    return (pre.groupBy(F.date_format("l_shipdate", "yyyy-MM")
                        .alias("ship_month"))
            .agg((F.lit(100.0)
                  * intmoney.limb_sum_exact("promo_u").cast("double")
                  / intmoney.limb_sum_exact("rev_u").cast("double"))
                 .cast("double").alias("promo_share_pct")))


# ---------------------------------------------------------------------
# Customer value deciles (global ntile over the reduced dim)
# ---------------------------------------------------------------------


@query("layout_bucketed_join", """
    SELECT o.o_custkey AS custkey, c.c_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_custkey, c.c_name
""")
def layout_bucketed_join(spark, sf_dir):
    """ZERO-SHUFFLE co-located join via bucketed tables - the storage-
    layout complement to broadcast (h1) and salting (skew_salted_agg):
    when BOTH join sides are too big to broadcast, bucketing them on
    the join key at WRITE time pre-pays the exchange once, and every
    subsequent join/aggregate on that key runs with no shuffle at all.
    Orders and customers are written with bucketBy(8, custkey) +
    sortBy; the join (merge-hinted so the tiny test dim is not
    broadcast away) picks SortMergeJoin with both sides' distribution
    supplied by the bucketed scan, and the per-customer aggregate
    reuses the same distribution (HashPartitioning(custkey) satisfies
    the (custkey, name) clustering) - plan-asserted at ZERO exchanges
    end-to-end in test_plans. At 100 TB this is the fact-to-fact join
    strategy: the bucket count scales to cluster width and the
    exchange cost is paid once per table, not once per query. The
    oracle is the plain relational join - bucketing must not change a
    single value, only the plan.

    The bucketed layout is built ONCE PER (process, corpus) and reused
    across invocations - the same amortization contract as
    catalog_iter's incremental band index: "paid once per table, not
    once per query" is the entry's own claim, so repeat invocations
    (bench reps, sweep re-runs) measure the zero-shuffle QUERY, and
    only the first invocation pays the one-time layout write. The
    testdata corpus is immutable, so a cached layout can never go
    stale within a process."""
    names = ensure_bucketed_layout(spark, sf_dir)
    bo = spark.table(names[0])
    bc = spark.table(names[1])
    return (bo.hint("merge")
            .join(bc, bo.o_custkey == bc.c_custkey)
            .groupBy(F.col("o_custkey").alias("custkey"), "c_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total_spend")))


def ensure_bucketed_layout(spark, sf_dir) -> tuple[str, str]:
    """Build (or fetch) the per-(process, corpus) bucketed layout the
    layout_bucketed_join entry serves from; returns the two table
    names. Factored out of the entry (r13) so the bench can time the
    one-time layout write separately from the zero-shuffle serve path
    (the r12 verdict's build-vs-serve split) — behavior is unchanged."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # EXTERNAL bucketed tables at an explicit fresh location: managed
    # tables would land in spark.sql.warehouse.dir, which defaults to
    # the session's CWD (not guaranteed writable), and a stale location
    # from a prior session makes saveAsTable refuse. A fresh directory
    # per build under the process scratch root (session.scratch_root,
    # removed at exit) sidesteps both. It is not a scratch_dir: the
    # session's table catalog points at it, so this function owns its
    # life. Table NAMES are unique per corpus so concurrent entries
    # against different sf_dirs never collide.
    with _BKT_LOCK:
        cached = _BKT_CACHE.get(sf_dir)
        names = cached[0] if cached else None
        if names is not None and not all(
                spark.catalog.tableExists(t) for t in names):
            # saveAsTable registrations live in the SESSION's in-memory
            # catalog: if the session was stopped and recreated in this
            # process, the cached names dangle (ADVICE r11; BOTH names
            # checked — a partial registration must also rebuild,
            # ADVICE r12) — rebuild, after best-effort dropping the
            # stale registrations and deleting the prior layout's
            # on-disk directory so repeated restarts in one process
            # cannot leak one orphaned layout per rebuild (ADVICE r12).
            _drop_layout(spark, *cached)
            names = None
        if names is None:
            # monotonic counter, NOT len(_BKT_CACHE): after a session
            # restart two corpora rebuild by OVERWRITING their slots,
            # so a len-based suffix would hand both the same table
            # names and one corpus would silently read the other's
            # data (r12 review finding).
            suffix = f"{next(_BKT_SEQ)}"
            names = (f"r5_bkt_orders_{suffix}", f"r5_bkt_customers_{suffix}")
            loc = os.path.join(scratch_root(), f"r5_bkt_{suffix}")
            for t in names:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            try:
                for t, df, key in zip(names, (orders, cust),
                                      ("o_custkey", "c_custkey")):
                    (df.write.format("parquet").option("path", f"{loc}/{t}")
                     .bucketBy(8, key).sortBy(key).saveAsTable(t))
            except BaseException:
                # failure-path hygiene (ADVICE r13 #3): a throw between
                # the two writes would otherwise leave the first table
                # registered and the fresh directory orphaned — the exact
                # leak the restart path above cleans, minus the cache
                # slot that lets it find the residue. Drop whatever was
                # created and remove the directory before re-raising.
                _drop_layout(spark, names, loc)
                raise
            _BKT_CACHE[sf_dir] = (names, loc)
    return names


def reset_bucketed_layout(spark, sf_dir) -> None:
    """Drop this corpus' bucketed layout (tables + on-disk directory)
    and forget the cache slot, so the next ensure_bucketed_layout pays
    a fresh build. Bench diagnostics only — the entry itself never
    resets."""
    with _BKT_LOCK:
        cached = _BKT_CACHE.pop(sf_dir, None)
    if cached is not None:
        _drop_layout(spark, *cached)


def _drop_layout(spark, names, loc) -> None:
    """Best-effort: unregister the layout's tables, delete its dir."""
    for t in names:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        except Exception:
            pass
    shutil.rmtree(loc, ignore_errors=True)


@query("ntile_customer_deciles", """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend
      FROM orders GROUP BY o_custkey)
    SELECT o_custkey AS custkey, total_spend,
           CAST(NTILE(10) OVER (ORDER BY total_spend DESC, o_custkey)
                AS INTEGER) AS decile
    FROM spend
""")
def ntile_customer_deciles(spark, sf_dir):
    """Customer-value deciles: aggregate fact→dim first (orders collapse
    to one row per customer — the 1000x reduction), THEN a global
    decile over the reduced table via the TWO-PASS rank
    (operators/twopass.py): range-partition on (spend desc, custkey),
    per-partition counts, broadcast offsets, partition-local
    row_number, NTILE(10) reconstructed from (rank, N) by the ANSI
    bucket-size arithmetic — bit-identical to the single-partition
    NTILE window the oracle still declares, but every stage parallel
    (no Exchange SinglePartition; asserted by test_plans). Ties broken
    by custkey so the decile cut is deterministic."""
    spend = (_t(spark, sf_dir, "orders")
             .groupBy(F.col("o_custkey").alias("custkey"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("total_spend")))
    ranked, n_rows, _ = twopass.global_prefix(
        spend, [F.desc("total_spend"), F.asc("custkey")])
    return ranked.select(
        "custkey", "total_spend",
        twopass.ntile_from_rank(twopass.ROW_COL, 10, n_rows)
        .cast("int").alias("decile"))


# ---------------------------------------------------------------------
# Deterministic per-group top-N sampling
# ---------------------------------------------------------------------


@query("sample_per_group_topn", """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(text), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 50
""")
def sample_per_group_topn(spark, sf_dir):
    """Per-group cap sampling: keep at most N=50 docs per language,
    chosen by content-hash order — a deterministic 'random' sample that
    is stable across runs, engines, and partitionings (rand() is none
    of those). The partitioned window scales: each language sorts
    independently, and at 100 TB the rank computation is a single
    (lang) shuffle of (doc_id, 16-byte prefix) pairs, never bodies.
    This caps dominant groups; sample_stratified_docs rate-samples -
    the two compose into cap-then-rate curation."""
    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.col("doc_id"))
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", "lang",
                    F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 50).select("doc_id", "lang"))


# ---------------------------------------------------------------------
# Skew diagnosis: heavy-key profile
# ---------------------------------------------------------------------


@query("skew_key_profile", """
    WITH k AS (
      SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id)
    SELECT user_id, n_rows,
           CAST(n_rows AS DOUBLE) / SUM(n_rows) OVER () AS row_share
    FROM k ORDER BY n_rows DESC, user_id LIMIT 20
""")
def skew_key_profile(spark, sf_dir):
    """The operator you run BEFORE deciding to salt: top-20 heaviest
    join/agg keys with their share of all rows. Map-side-combining
    count per key, then share + top-k on the aggregated key table. The
    total is a SCALAR aggregate cross-joined back as a broadcast (r5:
    replaced the previous ``SUM OVER ()`` window, which single-
    partitioned the per-key aggregate - |keys| can be 100M+ at 100 TB,
    the exact class the two-pass rework removed elsewhere; the oracle
    keeps the window form, a 1-row-vs-1-row semantic identity).
    TakeOrderedAndProject handles the top-k (per-partition heads +
    driver merge). Feeding skew.salted_agg's threshold from this
    profile (share > ~1/shuffle-partitions means one task drowns)
    is the documented 100 TB workflow."""
    k = (_events(spark, sf_dir)
         .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows")))
    tot = k.agg(F.sum("n_rows").alias("n_total"))
    return (k.crossJoin(F.broadcast(tot))
            .select("user_id", "n_rows",
                    (F.col("n_rows").cast("double")
                     / F.col("n_total")).alias("row_share"))
            .orderBy(F.col("n_rows").desc(), F.col("user_id"))
            .limit(20))


# ---------------------------------------------------------------------
# Market-basket co-occurrence (bounded per-order self-join)
# ---------------------------------------------------------------------

@query("basket_part_pairs", """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_baskets,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n_orders FROM tot)
             AS support
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_baskets DESC, part_a, part_b LIMIT 50
""")
def basket_part_pairs(spark, sf_dir):
    """Market-basket analysis: top-50 part pairs co-purchased in the
    same order, with support. The self-join is keyed on l_orderkey so
    its blow-up is C(order_size, 2) PER ORDER — bounded by basket
    size, never corpus-quadratic (the worst key is the largest order,
    ~7 lines here; a pathological mega-basket at 100 TB is exactly
    what AQE skew-join splitting handles). Distinct-first collapses
    repeated (order, part) lines before the join; the pair count is
    one map-side-combined shuffle over the pair vocabulary;
    TakeOrderedAndProject for the top-50."""
    op = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    tot = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_b"))
    return (a.join(b, "ok")
            .filter(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_baskets"))
            .crossJoin(F.broadcast(tot))
            .select("part_a", "part_b", "n_baskets",
                    (F.col("n_baskets").cast("double") / F.col("n_orders"))
                    .alias("support"))
            .orderBy(F.col("n_baskets").desc(), "part_a", "part_b")
            .limit(50))
