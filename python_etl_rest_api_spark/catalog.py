"""Query catalog: every implemented operator from SURVEY.md section 2 as a
(spark, sf_dir) -> DataFrame callable, paired with a DuckDB oracle SQL string.

Cross-engine determinism conventions (so value-hashes match exactly):
- money aggregates run in DECIMAL (exact, order-independent) and cast to
  double only at the output boundary;
- ratios are computed as CAST(exact_int_or_decimal AS DOUBLE) / count;
- dot products fold sequentially over the array in BOTH engines
  (F.aggregate <-> list_reduce), in double, element order fixed;
- event-time gaps use integer microseconds (unix_micros <-> epoch_us);
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import opcache
from .functions.cleaning import money
from .operators import analytics
from .session import local_frame, tune
from .sources.tables import with_event_ts

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a catalog entry. The registered callable (what the
    driver, bench, sweeps and REST API invoke) makes the entry the
    calling thread's unit of work with ``opcache.own(session, name)``:
    the thread's earlier caches are released and every job the entry
    runs carries the Spark job tag ``name``, also the jobs its lazy
    frame runs at the caller's collect. It then applies the session
    conventions with tune(): the caller's session may be one get_spark
    never built, and this is the one place a query applies RUNTIME_CONF.
    The DECORATED SYMBOL stays the original function, so one entry
    composing another in Python never re-applies the conventions or
    starts a new unit."""
    def deco(fn):
        @functools.wraps(fn)
        def entry(session, sf_dir):
            opcache.own(session, name)
            return fn(tune(session), sf_dir)

        QUERIES[name] = entry
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with a TIMESTAMP ``ts`` (see with_event_ts)."""
    return with_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


# =====================================================================
# H. Aggregations (reference sql/02_view.sql, readme.md:132-145, notebook)
# =====================================================================

@query("h1_daily_totals", """
    SELECT c.c_name,
           CAST(o.o_orderdate AS DATE) AS transaction_date,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
""")
def h1_daily_totals(spark, sf_dir):
    """THE flagship: daily_company_totals (reference sql/02_view.sql:4-11)
    mapped onto orders (fact) x customer (dim). Broadcast join + one
    shuffle on the group keys; decimal-exact sum."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return analytics.daily_company_totals(
        orders, customer.select(F.col("c_custkey").alias("o_custkey"), "c_name"),
        company_key="o_custkey", name_col="c_name",
        ts_col="o_orderdate", amount_col="o_totalprice")


@query("h2_count_global", "SELECT COUNT(*) AS n FROM orders")
def h2_count_global(spark, sf_dir):
    """H2: SELECT COUNT(*) FROM charges (reference readme.md:134)."""
    return _t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n"))


@query("h3_count_per_group", """
    SELECT c.c_name, COUNT(*) AS n_charges
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_name
""")
def h3_count_per_group(spark, sf_dir):
    """H3: per-company counts over the join (reference readme.md:136-140)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    return analytics.per_group_count(orders, customer,
                                     company_key="o_custkey", name_col="c_name")


@query("h4_null_counts", """
    SELECT CAST(SUM(CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority,
           CAST(SUM(CASE WHEN nullif(o_orderstatus, 'F') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_status
    FROM orders
""")
def h4_null_counts(spark, sf_dir):
    """H4: per-column null counts in ONE pass (reference notebook cell
    d0258ae3). Nulls synthesized via nullif since testdata is dense."""
    df = _t(spark, sf_dir, "orders").select(
        F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("o_orderpriority"),
        F.nullif("o_orderstatus", F.lit("F")).alias("o_orderstatus"))
    prof = analytics.null_profile(df)
    return prof.select(F.col("o_orderpriority").alias("n_null_priority"),
                       F.col("o_orderstatus").alias("n_null_status"))


@query("h5_null_ratio", """
    SELECT CAST(SUM(CASE WHEN nullif(o_orderstatus, 'F') IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) * 100 AS pct_null_status
    FROM orders
""")
def h5_null_ratio(spark, sf_dir):
    """H5: null percentage (reference notebook cell a67deecf). Exact int
    count divided in double - identical on both engines."""
    df = _t(spark, sf_dir, "orders")
    return df.agg(
        (F.sum(F.nullif("o_orderstatus", F.lit("F")).isNull().cast("long"))
         .cast("double") / F.count(F.lit(1)) * 100).alias("pct_null_status"))


@query("h6_sum_column", """
    SELECT CAST(SUM(gs) AS BIGINT) AS total FROM generate_series(1, 100) t(gs)
""")
def h6_sum_column(spark, sf_dir):
    """H6/F6: sum of the 1..100 set (reference api/first100.py:47)."""
    return spark.range(1, 101).agg(F.sum("id").alias("total"))


# =====================================================================
# C/E/F. Projection, string & coercion functions
# =====================================================================

@query("c1_rename_project", """
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_mktsegment AS segment
    FROM customer
""")
def c1_rename_project(spark, sf_dir):
    """C1-C3: rename + projection (reference etl/03_transform_and_load.py:36-39,113-114).
    Column pruning reaches the parquet scan (ReadSchema shows 3 cols)."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"))


@query("e1_normalize_strings", """
    SELECT c_custkey, lower(trim(c_name)) AS name_norm FROM customer
""")
def e1_normalize_strings(spark, sf_dir):
    """E1: trim+lower normalization (reference etl/03_transform_and_load.py:47-49)."""
    from .functions.cleaning import normalize_str
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", normalize_str("c_name").alias("name_norm"))


@query("e3_reason_codes", """
    SELECT o_orderkey,
           concat_ws('|',
               CASE WHEN o_totalprice > 300000 THEN 'high_value' END,
               CASE WHEN o_orderstatus = 'F' THEN 'finished' END,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' END) AS flags
    FROM orders
""")
def e3_reason_codes(spark, sf_dir):
    """E3/E4: ordered pipe-joined audit codes via concat_ws (reference
    etl/03_transform_and_load.py:73-83) - no trailing-separator rstrip needed."""
    from .functions.cleaning import reason_codes
    df = _t(spark, sf_dir, "orders")
    return df.select("o_orderkey", reason_codes([
        (F.col("o_totalprice") > 300000, "high_value"),
        (F.col("o_orderstatus") == "F", "finished"),
        (F.col("o_orderpriority") == "1-URGENT", "urgent"),
    ]).alias("flags"))


@query("e5_date_extract", """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders
""")
def e5_date_extract(spark, sf_dir):
    """E5: DATE() extraction (reference sql/02_view.sql:7)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date"))


@query("f1_lenient_numeric_cast", """
    SELECT o_orderkey,
           try_cast(CASE WHEN o_orderkey % 10 = 0 THEN 'not-a-number'
                         ELSE CAST(o_orderkey AS VARCHAR) || '.5' END AS DOUBLE) AS parsed
    FROM orders
""")
def f1_lenient_numeric_cast(spark, sf_dir):
    """F1: to_numeric(errors='coerce') as try_cast (reference
    etl/03_transform_and_load.py:42): garbage -> null, never throws
    (ANSI-safe). .5 values are exactly representable."""
    df = _t(spark, sf_dir, "orders")
    raw = (F.when(F.col("o_orderkey") % 10 == 0, F.lit("not-a-number"))
           .otherwise(F.concat(F.col("o_orderkey").cast("string"), F.lit(".5"))))
    return df.select("o_orderkey", raw.try_cast("double").alias("parsed"))


@query("f2_multiformat_dates", """
    WITH raw AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                  ELSE strftime(o_orderdate, '%Y%m%d') END AS raw_date
      FROM orders)
    SELECT o_orderkey,
           CAST(COALESCE(try_strptime(raw_date, '%Y-%m-%d'),
                         try_strptime(raw_date, '%Y%m%d')) AS DATE) AS parsed_date
    FROM raw
""")
def f2_multiformat_dates(spark, sf_dir):
    """F2: pandas multi-format date inference (reference
    etl/03_transform_and_load.py:43-44; the 20190516 case, SURVEY 1.4) -
    coalesce over try_to_timestamp, JVM-side, never throws."""
    from .functions.cleaning import lenient_timestamp
    df = _t(spark, sf_dir, "orders")
    raw = (F.when(F.col("o_orderkey") % 2 == 0,
                  F.date_format("o_orderdate", "yyyy-MM-dd"))
           .otherwise(F.date_format("o_orderdate", "yyyyMMdd")))
    return df.select(
        "o_orderkey",
        lenient_timestamp(raw, ("yyyy-MM-dd", "yyyyMMdd"))
        .cast("date").alias("parsed_date"))


@query("f4_f5_amount_guards", """
    SELECT o_orderkey,
           CASE WHEN abs(x) > 99999999999999.99 THEN NULL ELSE x END AS amount_guarded
    FROM (SELECT o_orderkey,
                 o_totalprice * (CASE WHEN o_orderkey % 5 = 0 THEN 1e12 ELSE 1 END) AS x
          FROM orders)
""")
def f4_f5_amount_guards(spark, sf_dir):
    """F4/F5: explicit DECIMAL(16,2) range guard -> null (reference
    etl/03_transform_and_load.py:50-52); never relies on cast-overflow."""
    from .functions.cleaning import decimal_guard
    df = _t(spark, sf_dir, "orders")
    x = F.col("o_totalprice") * F.when(F.col("o_orderkey") % 5 == 0,
                                       F.lit(1e12)).otherwise(F.lit(1.0))
    return df.select("o_orderkey", decimal_guard(x).alias("amount_guarded"))


# =====================================================================
# D. Filters / dedup (reference etl masks + readme validation queries)
# =====================================================================

@query("d1_validity_split_counts", """
    SELECT (c_mktsegment IS NULL OR c_mktsegment IN ('', 'nan')) AS is_invalid,
           COUNT(*) AS n
    FROM customer GROUP BY 1
""")
def d1_validity_split_counts(spark, sf_dir):
    """D1/D2: null-or-sentinel predicate + complementary split, counted in
    one pass (reference etl/03_transform_and_load.py:56-72)."""
    from .functions.cleaning import is_missing
    return (_t(spark, sf_dir, "customer")
            .groupBy(is_missing("c_mktsegment").alias("is_invalid"))
            .agg(F.count(F.lit(1)).alias("n")))


@query("d3_dedup_pairs", """
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
""")
def d3_dedup_pairs(spark, sf_dir):
    """D3: dropDuplicates on a column pair (reference
    etl/03_transform_and_load.py:113)."""
    return _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment").dropDuplicates()


@query("d4_negative_amounts", """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 0
""")
def d4_negative_amounts(spark, sf_dir):
    """D4: negative-amount audit (reference readme.md:143-145); expected
    empty. Predicate pushes to the parquet scan."""
    return analytics.negative_amounts(
        _t(spark, sf_dir, "orders"), "o_totalprice") \
        .select("o_orderkey", "o_totalprice")


@query("d4b_threshold_filter", """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 10000
""")
def d4b_threshold_filter(spark, sf_dir):
    """D4 variant with a selective non-empty predicate (pushdown +
    row-group skipping carries the 100 TB case)."""
    return (_t(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") < 10000)
            .select("o_orderkey", "o_totalprice"))


@query("d5_view_date_eq", """
    SELECT * FROM (
      SELECT c.c_name, CAST(o.o_orderdate AS DATE) AS transaction_date,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    WHERE transaction_date = DATE '1995-03-15'
""")
def d5_view_date_eq(spark, sf_dir):
    """D5: date-equality filter on the view (reference readme.md:156-158).
    The filter column is a group key -> Catalyst pushes it below the
    aggregate to the scan."""
    return h1_daily_totals(spark, sf_dir).filter(
        F.col("transaction_date") == F.lit("1995-03-15").cast("date"))


@query("d6_view_date_between", """
    SELECT * FROM (
      SELECT c.c_name, CAST(o.o_orderdate AS DATE) AS transaction_date,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    WHERE transaction_date BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
""")
def d6_view_date_between(spark, sf_dir):
    """D6: BETWEEN range filter (reference readme.md:160-162); drives
    partition pruning when curated tables are date-partitioned."""
    return h1_daily_totals(spark, sf_dir).filter(
        F.col("transaction_date").between("1995-03-01", "1995-03-31"))


# =====================================================================
# G. Imputation (the one non-trivial reference transform)
# =====================================================================

@query("g1_g2_first_valid_fill", """
    WITH t AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS prio
      FROM orders)
    SELECT o_orderkey,
           COALESCE(prio,
                    first_value(prio IGNORE NULLS) OVER (
                      PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                    'unknown') AS prio_filled
    FROM t
""")
def g1_g2_first_valid_fill(spark, sf_dir):
    """G1+G2: group-wise first-valid fill then constant fallback (reference
    etl/03_transform_and_load.py:90-94). Deterministic via total order on
    the key; one shuffle on the group column."""
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
         .otherwise(F.col("o_orderpriority")).alias("prio"))
    w = (Window.partitionBy("o_custkey").orderBy("o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return df.select(
        "o_orderkey",
        F.coalesce(F.col("prio"),
                   F.first("prio", ignorenulls=True).over(w),
                   F.lit("unknown")).alias("prio_filled"))


# =====================================================================
# I/J. Joins, set ops, unions
# =====================================================================

@query("i1_join_inner", """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""")
def i1_join_inner(spark, sf_dir):
    """I1: fact x dim inner equi-join (reference sql/02_view.sql:9-10);
    dim broadcast, fact never shuffles."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (orders.join(F.broadcast(customer),
                        orders.o_custkey == customer.c_custkey, "inner")
            .select("o_orderkey", "c_name", "o_totalprice"))


@query("i2_fk_violations", """
    SELECT COUNT(*) AS n_violations
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
""")
def i2_fk_violations(spark, sf_dir):
    """I2: FK integrity check as left-anti join (reference
    sql/01_schema.sql:18 delegates this to MySQL)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("o_custkey"))
    return analytics.fk_violations(orders, customer, "o_custkey") \
        .agg(F.count(F.lit(1)).alias("n_violations"))


@query("i3_set_difference", """
    SELECT gs AS n FROM generate_series(1, 100) t(gs)
    WHERE gs NOT IN (7, 42, 57)
""")
def i3_set_difference(spark, sf_dir):
    """I3: 1..100 minus extracted, as a left-anti join (reference
    api/first100.py:27-29 set semantics, distributed form)."""
    full = spark.range(1, 101).withColumnRenamed("id", "n")
    extracted = local_frame(spark, [(7,), (42,), (57,)], "n long")
    return full.join(extracted, "n", "left_anti")


@query("f6_gauss_missing", """
    SELECT 5050 - CAST(SUM(gs) AS BIGINT) AS missing
    FROM generate_series(1, 100) t(gs) WHERE gs != 57
""")
def f6_gauss_missing(spark, sf_dir):
    """F6/L2: Gauss closed-form missing number (reference api/first100.py:40-48):
    n(n+1)/2 minus the sum of remaining."""
    remaining = spark.range(1, 101).filter(F.col("id") != 57)
    return remaining.agg((F.lit(5050) - F.sum("id")).alias("missing"))


@query("j1_head_tail", """
    (SELECT o_orderkey FROM orders ORDER BY o_orderkey ASC LIMIT 5)
    UNION ALL
    (SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 5)
""")
def j1_head_tail(spark, sf_dir):
    """J1: head+tail sample (reference notebook cell a128ff9b), made
    deterministic via total order on the key. TakeOrderedAndProject -
    no full sort."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey")
    return (df.orderBy(F.col("o_orderkey").asc()).limit(5)
            .union(df.orderBy(F.col("o_orderkey").desc()).limit(5)))


@query("j2_union", """
    SELECT o_orderkey FROM orders WHERE o_totalprice < 5000
    UNION ALL
    SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
""")
def j2_union(spark, sf_dir):
    """J2: union of two filtered tiers (reference notebook pd.concat)."""
    df = _t(spark, sf_dir, "orders")
    return (df.filter(F.col("o_totalprice") < 5000).select("o_orderkey")
            .union(df.filter(F.col("o_totalprice") > 400000).select("o_orderkey")))


# =====================================================================
# B. Load semantics (insert-ignore / upsert) as pure queries
# =====================================================================

@query("b2_first_seen_wins", """
    SELECT c_nationkey, c_custkey, c_name FROM customer
    QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) = 1
""")
def b2_first_seen_wins(spark, sf_dir):
    """B2: INSERT IGNORE semantics - first row per PK in stable order wins
    (reference etl/03_transform_and_load.py:125-131)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_custkey").asc())
    return (_t(spark, sf_dir, "customer")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("c_nationkey", "c_custkey", "c_name"))


@query("b3_last_writer_wins", """
    SELECT c_nationkey, c_custkey, c_name FROM customer
    QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey DESC) = 1
""")
def b3_last_writer_wins(spark, sf_dir):
    """B3: ON DUPLICATE KEY UPDATE semantics - last writer per PK wins
    (reference etl/03_transform_and_load.py:134-156)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_custkey").desc())
    return (_t(spark, sf_dir, "customer")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("c_nationkey", "c_custkey", "c_name"))
