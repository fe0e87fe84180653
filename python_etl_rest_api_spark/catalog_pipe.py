"""Round-4 corpus-hygiene catalog entries: the second wave of
training-data-pipeline operators beyond the reference surface -
keep-first repeated-span removal (the C4/RefinedWeb line-dedup recipe),
asymmetric containment near-dup (quote inclusion that Jaccard misses),
rank-based robust outliers (exact median/MAD, no interpolation
divergence between engines), integer-exact systematic PPS sampling,
and a JSON key-schema profile for drift detection.

All follow the repo's cross-engine exactness recipe (SURVEY.md §7.3):
md5 for portable hashing, integer arithmetic until a single final
double division, order statistics by explicit rank instead of
interpolating percentile functions whose rounding differs per engine.
The reference (a 313-line pandas/FastAPI technical test,
etl/03_transform_and_load.py + api/main.py) has none of these; they extend the
engine toward the 100 TB curation workload.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _events, _t, query
from .operators import dedup, twopass
from .session import local_frame


# ---------------------------------------------------------------------
# Repeated-span removal (corpus-level keep-first line dedup)
# ---------------------------------------------------------------------

@query("dedup_repeated_spans", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sp AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(tk[i*16+1 : i*16+16], ' ') AS span,
             1 + (len(tk)-1) // 16 AS n_spans
      FROM t, LATERAL unnest(range(0, 1 + (len(tk)-1) // 16)) AS u(i)
    ),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY span ORDER BY doc_id, span_idx) AS rn
          FROM sp)
    SELECT doc_id,
           CAST(MAX(n_spans) AS BIGINT) AS n_spans,
           COUNT(*) AS n_spans_kept,
           string_agg(span, ' ' ORDER BY span_idx) AS text_dedup
    FROM r WHERE rn = 1 GROUP BY doc_id
""")
def dedup_repeated_spans(spark, sf_dir):
    """C4-style repeated-span removal with keep-first semantics and text
    reconstruction: cut every document into non-overlapping 16-token
    spans, drop any span whose content already occurred earlier in the
    corpus (ordered by (doc_id, span_idx)), and re-join the survivors.
    Finer-grained than whole-document dedup: boilerplate shared across
    otherwise-distinct documents is removed from all but its first
    carrier. One shuffle ranks spans by their md5 digest; the rebuild
    groupBy is the second. DuckDB reproduces the whole pipeline (spans,
    global keep-first window, ordered re-join), so the reconstructed
    TEXT is value-hashed, not just counts."""
    return dedup.repeated_span_dedup(
        _t(spark, sf_dir, "documents"), span_tokens=16)


# ---------------------------------------------------------------------
# Asymmetric containment near-dup (quote inclusion)
# ---------------------------------------------------------------------

@query("dedup_containment", """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE [] END AS shingles
      FROM toks
    ),
    hp AS (
      SELECT doc_id,
             ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
    ),
    hs AS (SELECT doc_id, list(DISTINCT h) AS hset FROM hp GROUP BY doc_id),
    rare AS (
      SELECT h FROM hp GROUP BY h
      HAVING COUNT(*) >= 2 AND COUNT(*) <= 10
    ),
    rposts AS (SELECT hp.doc_id, hp.h FROM hp JOIN rare USING (h)),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM rposts l JOIN rposts r
        ON l.h = r.h AND l.doc_id < r.doc_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             CASE WHEN len(a.hset) > 0 THEN
               CAST(len(list_intersect(a.hset, b.hset)) AS DOUBLE)
                 / len(a.hset) ELSE 0.0 END AS containment_a_in_b,
             CASE WHEN len(b.hset) > 0 THEN
               CAST(len(list_intersect(a.hset, b.hset)) AS DOUBLE)
                 / len(b.hset) ELSE 0.0 END AS containment_b_in_a
      FROM cand c
      JOIN hs a ON a.doc_id = c.id_a
      JOIN hs b ON b.doc_id = c.id_b
    )
    SELECT * FROM scored
    WHERE containment_a_in_b >= 0.8 OR containment_b_in_a >= 0.8
""")
def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs: C(A in B) =
    |S(A) & S(B)| / |S(A)| over distinct 3-gram shingles. Catches the
    quote-inclusion case Jaccard misses (short doc embedded in a long
    one: low symmetric similarity, ~1.0 containment) - both matter when
    deduplicating training corpora. Candidates come from a rare-shingle
    inverted index (df in [2, 10]) rather than minhash bands, which
    systematically miss containment (see containment_pairs docstring);
    the exact set arithmetic runs only on posting-mates, cost bounded
    by sum(df^2) over rare shingles. DuckDB value-hashes the posting
    join + both containment directions end to end."""
    return dedup.containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, max_df=10, threshold=0.8)


# ---------------------------------------------------------------------
# Robust outliers: exact rank-based median + MAD
# ---------------------------------------------------------------------

@query("events_mad_outliers", """
    WITH v AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, AVG(value) AS med
      FROM v WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    ),
    d AS (
      SELECT v.event_type, abs(v.value - m.med) AS dev, m.med,
             row_number() OVER (PARTITION BY v.event_type
                                ORDER BY abs(v.value - m.med)) AS rn,
             COUNT(*) OVER (PARTITION BY v.event_type) AS n
      FROM v JOIN med m ON v.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, AVG(dev) AS mad, MAX(med) AS med
      FROM d WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           MAX(m.med) AS med,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad m ON e.event_type = m.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
""")
def events_mad_outliers(spark, sf_dir):
    """Robust per-type outlier counts via exact MEDIAN and MAD computed
    as explicit order statistics: rank rows per group, average the
    middle one or two values. Interpolating percentile functions
    (Spark `percentile`, DuckDB `quantile_cont`) evaluate different
    expressions for the even-count midpoint and can differ in the last
    ulp - explicit ranks make both engines run literally (lo + hi) / 2.
    |x - med| > 3*MAD flags outliers without the mean/stddev blowup a
    heavy tail causes (compare events_hourly_anomalies' 2-sigma flags).
    Two rank windows partitioned by event_type (parallel across types;
    at 100 TB a per-type sort of doubles), one broadcast join back of
    the |types|-row stats table."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    byv = Window.partitionBy("event_type").orderBy("value")
    cnt = Window.partitionBy("event_type")
    v = e.select("event_type", "value",
                 F.row_number().over(byv).alias("rn"),
                 F.count(F.lit(1)).over(cnt).alias("n"))
    med = (v.filter((F.col("rn") == F.expr("(n + 1) div 2"))
                    | (F.col("rn") == F.expr("(n + 2) div 2")))
           .groupBy("event_type").agg(F.avg("value").alias("med")))
    d = (e.join(F.broadcast(med), "event_type")
         .select("event_type", "med",
                 F.abs(F.col("value") - F.col("med")).alias("dev"))
         .withColumn("rn", F.row_number().over(
             Window.partitionBy("event_type").orderBy("dev")))
         .withColumn("n", F.count(F.lit(1)).over(cnt)))
    mad = (d.filter((F.col("rn") == F.expr("(n + 1) div 2"))
                    | (F.col("rn") == F.expr("(n + 2) div 2")))
           .groupBy("event_type").agg(F.avg("dev").alias("mad"),
                                      F.max("med").alias("med")))
    return (e.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("med").alias("med"),
                 F.max("mad").alias("mad"),
                 F.sum(F.when(F.abs(F.col("value") - F.col("med"))
                              > 3 * F.col("mad"), 1).otherwise(0))
                 .cast("long").alias("n_outliers")))


# ---------------------------------------------------------------------
# Systematic PPS sampling (integer-exact weighted sampling)
# ---------------------------------------------------------------------

SYSTEMATIC_K = 100


@query("sample_weighted_systematic", """
    WITH w AS (
      SELECT doc_id, n_chars AS weight,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
             greatest(SUM(n_chars) OVER () // 100, 1) AS step
      FROM documents
    )
    SELECT doc_id, CAST(weight AS BIGINT) AS weight,
           CAST(cum AS BIGINT) AS cum_weight,
           CAST(cum // step AS BIGINT) AS sample_idx
    FROM w
    WHERE cum // step > (cum - weight) // step
      AND cum // step <= 100
""")
def sample_weighted_systematic(spark, sf_dir):
    """Systematic probability-proportional-to-size sampling: walk the
    doc_id-ordered cumulative weight line (weight = n_chars) and take
    the document under each multiple of total/K. Selection probability
    is proportional to weight, coverage is guaranteed across the whole
    corpus (unlike Bernoulli draws), and EVERY operation is integer
    (running sum, floor division, crossing test) - exactly reproducible
    on any engine, no pow/log of the exponential-keys method (A-ES)
    whose libm rounding differs per platform. The running sum is the
    TWO-PASS distributed prefix scan (operators/twopass.py:
    range-partition on doc_id, per-partition subtotals, broadcast
    offsets, partition-local scan) - no single-partition window
    anywhere in the plan (asserted by test_plans), and the global total
    falls out of the subtotal pass for free, so the step is a plan
    literal instead of a second full-table window. The step is clamped
    to >= 1 in BOTH engines (greatest(total//K, 1)): a tiny corpus with
    total weight < K otherwise hits div-by-zero, where Spark yields
    NULL (silent empty result) but DuckDB raises - the cross-engine
    divergence flagged in round 4.

    PPS multiplicity: a document heavier than the step straddles
    several boundaries but is emitted ONCE (its sample_idx jumps), so
    the row count can be below K when any weight exceeds total/K -
    certainty selection of oversized units, the textbook systematic-PPS
    behavior (pinned by test_pipe_ops)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("weight"))
    ranked, _n, total = twopass.global_prefix(
        docs, [F.asc("doc_id")], sum_col="weight")
    step = max(total // SYSTEMATIC_K, 1)
    idx = F.expr(f"{twopass.SUM_COL} div {step}")
    prev_idx = F.expr(f"({twopass.SUM_COL} - weight) div {step}")
    return (ranked.filter((idx > prev_idx) & (idx <= SYSTEMATIC_K))
            .select("doc_id", F.col("weight").cast("long").alias("weight"),
                    F.col(twopass.SUM_COL).alias("cum_weight"),
                    idx.cast("long").alias("sample_idx")))


# ---------------------------------------------------------------------
# JSON key-schema profile (drift detection over semi-structured props)
# ---------------------------------------------------------------------

@query("events_json_key_profile", """
    WITH k AS (
      SELECT event_type, unnest(json_keys(props)) AS key
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_type, key, COUNT(*) AS n
    FROM k GROUP BY event_type, key
""")
def events_json_key_profile(spark, sf_dir):
    """Schema profile of a semi-structured JSON column: per event type,
    which keys appear and how often - the drift detector that catches a
    producer adding/dropping fields before a downstream extract breaks
    (the companion to events_json_extract, which pulls known keys).
    json_object_keys runs JVM-side (no UDF); one narrow explode then a
    map-side-combined count aggregate. At 100 TB the result is
    |types| x |keys| rows - tiny regardless of input size."""
    e = _events(spark, sf_dir).filter(F.col("props").isNotNull())
    return (e.select("event_type",
                     F.explode(F.json_object_keys("props")).alias("key"))
            .groupBy("event_type", "key")
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------
# Time-series resample with gap fill (integer bucket grid)
# ---------------------------------------------------------------------

@query("events_resample_gapfill", """
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 // 900 * 900 AS bucket_s
      FROM events
    ),
    counts AS (
      SELECT event_type, bucket_s, COUNT(*) AS n
      FROM b GROUP BY event_type, bucket_s
    ),
    bounds AS (SELECT MIN(bucket_s) AS lo, MAX(bucket_s) AS hi FROM b),
    grid AS (
      SELECT t.event_type, g.bucket_s
      FROM (SELECT DISTINCT event_type FROM events) t,
           bounds,
           LATERAL unnest(range(bounds.lo, bounds.hi + 1, 900))
             AS g(bucket_s)
    )
    SELECT grid.event_type,
           CAST(grid.bucket_s AS BIGINT) AS bucket_s,
           CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_events
    FROM grid LEFT JOIN counts
      ON grid.event_type = counts.event_type
     AND grid.bucket_s = counts.bucket_s
""")
def events_resample_gapfill(spark, sf_dir):
    """Resample an event stream onto a regular 15-minute grid with
    explicit zero rows for empty buckets - the gap-fill every
    time-series chart/model needs (a groupBy alone silently drops empty
    intervals, which reads as 'no data' instead of 'zero events').
    Buckets are INTEGER epoch seconds (floor to 900 s) so the grid, the
    join keys, and the zero-fill are engine-exact - no timestamp
    arithmetic or timezone coercion in the comparison path. The dense
    grid is generated, not scanned: one tiny global min/max aggregate,
    sequence() per event type, then a left join of (types x buckets)
    against the counts - at 100 TB the grid side is |types| * |buckets|
    rows regardless of event volume, and the counts aggregate is
    map-side combined."""
    e = _events(spark, sf_dir)
    b = e.select(
        "event_type",
        (F.unix_timestamp("ts").cast("long") / 900).cast("long")
        .alias("_q"))
    b = b.select("event_type", (F.col("_q") * 900).alias("bucket_s"))
    counts = (b.groupBy("event_type", "bucket_s")
              .agg(F.count(F.lit(1)).alias("n")))
    bounds = b.agg(F.min("bucket_s").alias("lo"),
                   F.max("bucket_s").alias("hi"))
    types = e.select("event_type").distinct()
    grid = (types.crossJoin(F.broadcast(bounds))
            .select("event_type",
                    F.explode(F.sequence("lo", "hi", F.lit(900)))
                    .alias("bucket_s")))
    return (grid.join(counts, ["event_type", "bucket_s"], "left")
            .select("event_type",
                    F.col("bucket_s").cast("long").alias("bucket_s"),
                    F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n_events")))


# ---------------------------------------------------------------------
# Week-over-week revenue change (calendar-correct, decimal-exact)
# ---------------------------------------------------------------------

@query("orders_wow_change", """
    WITH daily AS (
      SELECT o_orderdate AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_orderdate
    )
    SELECT c.d AS order_date,
           CAST(c.rev AS DOUBLE) AS revenue,
           CAST(p.rev AS DOUBLE) AS revenue_prev_week,
           CAST((c.rev - p.rev) AS DOUBLE) / CAST(p.rev AS DOUBLE)
             AS wow_change
    FROM daily c JOIN daily p ON p.d = c.d - INTERVAL 7 DAY
""")
def orders_wow_change(spark, sf_dir):
    """Week-over-week revenue change, calendar-correct: the comparison
    joins on d - 7 DAYS, not lag(7) - a lag over row position silently
    compares against the wrong day whenever any date is absent from the
    data, the classic period-over-period bug. Daily revenue accumulates
    in DECIMAL(18,2) (exact, fold-order-free) and converts to double
    once for the single ratio division, so both engines compute
    literally the same IEEE ops. The daily aggregate is one map-side
    combined shuffle; the self-join runs on the ~|days| aggregate,
    broadcast at any corpus scale."""
    o = _t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").alias("d"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .alias("rev")))
    c, p = daily.alias("c"), daily.alias("p")
    return (c.join(F.broadcast(p),
                   F.col("p.d") == F.date_sub(F.col("c.d"), 7))
            .select(F.col("c.d").alias("order_date"),
                    F.col("c.rev").cast("double").alias("revenue"),
                    F.col("p.rev").cast("double")
                    .alias("revenue_prev_week"),
                    ((F.col("c.rev") - F.col("p.rev")).cast("double")
                     / F.col("p.rev").cast("double")).alias("wow_change")))


# ---------------------------------------------------------------------
# Declarative data-quality rules summary (single scan per table)
# ---------------------------------------------------------------------

@query("dq_rules_summary", """
    WITH li AS (
      SELECT
        SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
                 THEN 1 ELSE 0 END) AS qty_nonpositive,
        SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                 THEN 1 ELSE 0 END) AS discount_out_of_range,
        SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS tax_negative,
        SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
                 THEN 1 ELSE 0 END) AS price_nonpositive,
        SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                 THEN 1 ELSE 0 END) AS returnflag_invalid
      FROM lineitem
    ),
    o AS (
      SELECT
        SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                 THEN 1 ELSE 0 END) AS totalprice_nonpositive,
        SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
          AS orderdate_null,
        SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
          AS custkey_null
      FROM orders
    )
    SELECT 'lineitem' AS tbl, r.rule, r.n_violations FROM li,
    LATERAL (VALUES
      ('qty_nonpositive', CAST(qty_nonpositive AS BIGINT)),
      ('discount_out_of_range', CAST(discount_out_of_range AS BIGINT)),
      ('tax_negative', CAST(tax_negative AS BIGINT)),
      ('price_nonpositive', CAST(price_nonpositive AS BIGINT)),
      ('returnflag_invalid', CAST(returnflag_invalid AS BIGINT))
    ) AS r(rule, n_violations)
    UNION ALL
    SELECT 'orders' AS tbl, r.rule, r.n_violations FROM o,
    LATERAL (VALUES
      ('totalprice_nonpositive', CAST(totalprice_nonpositive AS BIGINT)),
      ('orderdate_null', CAST(orderdate_null AS BIGINT)),
      ('custkey_null', CAST(custkey_null AS BIGINT))
    ) AS r(rule, n_violations)
""")
def dq_rules_summary(spark, sf_dir):
    """Declarative data-quality suite (the dbt-tests/Great-Expectations
    shape): N validation rules per table evaluated as stacked
    conditional aggregates in ONE scan per table, then unpivoted to
    (tbl, rule, n_violations) rows. The naive form - one COUNT query
    per rule - scans the fact table N times; stacking makes rule count
    free at 100 TB (same single pass, map-side combined). Rules are
    conditional integer sums, so cross-engine exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    li_rules = {
        "qty_nonpositive":
            F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0),
        "discount_out_of_range":
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        "tax_negative": F.col("l_tax") < 0,
        "price_nonpositive":
            F.col("l_extendedprice").isNull()
            | (F.col("l_extendedprice") <= 0),
        "returnflag_invalid": ~F.col("l_returnflag").isin("A", "N", "R"),
    }
    o_rules = {
        "totalprice_nonpositive":
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
        "orderdate_null": F.col("o_orderdate").isNull(),
        "custkey_null": F.col("o_custkey").isNull(),
    }

    def summarize(df, tbl, rules):
        wide = df.agg(*[
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
            for name, cond in rules.items()])
        stack = ", ".join(f"'{n}', {n}" for n in rules)
        return wide.select(
            F.lit(tbl).alias("tbl"),
            F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)"))

    return summarize(li, "lineitem", li_rules).unionAll(
        summarize(o, "orders", o_rules))


# ---------------------------------------------------------------------
# CDC apply (MERGE INTO semantics: insert / update / delete in one pass)
# ---------------------------------------------------------------------

@query("cdc_apply_changes", """
    WITH changes AS (
      SELECT CASE WHEN o_orderkey % 10 = 2 THEN o_orderkey + 1000000
                  ELSE o_orderkey END AS key,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                  WHEN o_orderkey % 10 = 1 THEN 'U'
                  ELSE 'I' END AS op,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CASE WHEN o_orderkey % 10 = 1
                         THEN CAST(10.00 AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END
                  AS DOUBLE) AS new_totalprice,
             o_orderstatus AS new_status
      FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)
    ),
    base AS (
      SELECT o_orderkey AS key,
             CAST(o_totalprice AS DOUBLE) AS totalprice,
             o_orderstatus AS status
      FROM orders
    ),
    untouched AS (
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM changes c
                        WHERE c.key = b.key AND c.op IN ('D', 'U'))
    ),
    applied AS (
      SELECT key, new_totalprice AS totalprice, new_status AS status
      FROM changes WHERE op IN ('U', 'I')
    )
    SELECT * FROM untouched UNION ALL SELECT * FROM applied
""")
def cdc_apply_changes(spark, sf_dir):
    """MERGE INTO semantics without a table format: apply an I/U/D
    change feed to a base snapshot in one pass - DELETEs and UPDATEs
    leave via a left-anti join on the change keys, then UPDATE and
    INSERT rows union back in. This is the APPLY side of CDC
    (cdc_snapshot_diff is the DETECT side); together they replicate a
    source table through periodic dumps + changelogs. The change feed
    here is derived deterministically from orders (key % 10 picks the
    op; updates bump the price by an exact DECIMAL 10.00) so the fully
    applied table is value-hashable. At 100 TB: one shuffle of base and
    feed on the key for the anti join - or zero, if the base is
    bucketed by key (sources/warehouse.py::write_bucketed) and the feed
    is broadcast-small, the common case for incremental loads."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.col("o_orderstatus").alias("status"))
    ch = (o.filter(F.col("o_orderkey") % 10 < 3)
          .select(
              F.when(F.col("o_orderkey") % 10 == 2,
                     F.col("o_orderkey") + 1000000)
              .otherwise(F.col("o_orderkey")).alias("key"),
              F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
              .when(F.col("o_orderkey") % 10 == 1, F.lit("U"))
              .otherwise(F.lit("I")).alias("op"),
              (F.col("o_totalprice").cast("decimal(18,2)")
               + F.when(F.col("o_orderkey") % 10 == 1,
                        F.lit("10.00").cast("decimal(18,2)"))
               .otherwise(F.lit(0).cast("decimal(18,2)")))
              .cast("double").alias("new_totalprice"),
              F.col("o_orderstatus").alias("new_status")))
    touched_keys = ch.filter(F.col("op").isin("D", "U")).select("key")
    untouched = base.join(touched_keys, "key", "left_anti")
    applied = (ch.filter(F.col("op").isin("U", "I"))
               .select("key", F.col("new_totalprice").alias("totalprice"),
                       F.col("new_status").alias("status")))
    return untouched.unionByName(applied)


# ---------------------------------------------------------------------
# First-touch / last-touch conversion attribution matrix
# ---------------------------------------------------------------------

@query("events_touch_matrix", """
    WITH conv AS (
      SELECT user_id, MIN(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    pre AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE e.ts < c.conv_ts AND e.event_type <> 'purchase'
    ),
    ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_first,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM pre
    ),
    touches AS (
      SELECT f.user_id,
             f.event_type AS first_touch,
             l.event_type AS last_touch
      FROM ranked f JOIN ranked l
        ON f.user_id = l.user_id AND f.rn_first = 1 AND l.rn_last = 1
    )
    SELECT first_touch, last_touch, COUNT(*) AS n_users
    FROM touches GROUP BY first_touch, last_touch
""")
def events_touch_matrix(spark, sf_dir):
    """First-touch x last-touch attribution matrix: for every user who
    converted (first 'purchase'), which event type opened their journey
    and which one closed it - the two attribution models marketing
    compares first, in one result. Complements join_asof_attribution
    (per-purchase last touch): this is per-USER journey framing with
    integer counts only, so it is engine-exact without fractional
    credit division. Ties break on (ts, event_id) - deterministic under
    any partitioning. Plan: tiny conversion aggregate joined back
    (broadcast), one user_id window shuffle computing both rank
    directions in the same exchange, then a cells-not-users final
    aggregate."""
    e = _events(spark, sf_dir)
    conv = (e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id").agg(F.min("ts").alias("conv_ts")))
    pre = (e.join(F.broadcast(conv), "user_id")
           .filter((F.col("ts") < F.col("conv_ts"))
                   & (F.col("event_type") != "purchase"))
           .select("user_id", "event_type", "ts", "event_id"))
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    ranked = pre.select(
        "user_id", "event_type",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"))
    first = (ranked.filter(F.col("rn_first") == 1)
             .select("user_id", F.col("event_type").alias("first_touch")))
    last = (ranked.filter(F.col("rn_last") == 1)
            .select("user_id", F.col("event_type").alias("last_touch")))
    return (first.join(last, "user_id")
            .groupBy("first_touch", "last_touch")
            .agg(F.count(F.lit(1)).alias("n_users")))


# ---------------------------------------------------------------------
# Two-sample KS drift statistic (exact ECDFs from integer running sums)
# ---------------------------------------------------------------------

@query("stats_ks_drift", """
    WITH d AS (SELECT source, n_chars FROM documents
               WHERE n_chars IS NOT NULL),
    c AS (
      SELECT source, n_chars, COUNT(*) AS cnt
      FROM d GROUP BY source, n_chars
    ),
    xs AS (SELECT DISTINCT n_chars FROM d),
    srcs AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY source),
    tot AS (SELECT COUNT(*) AS n_total FROM d),
    grid AS (
      SELECT s.source, s.n_s, x.n_chars FROM srcs s, xs x
    ),
    cum AS (
      SELECT g.source, g.n_s, g.n_chars,
             SUM(COALESCE(c.cnt, 0)) OVER (
               PARTITION BY g.source ORDER BY g.n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
      FROM grid g LEFT JOIN c
        ON c.source = g.source AND c.n_chars = g.n_chars
    ),
    cumt AS (
      SELECT n_chars,
             SUM(cnt_x) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      FROM (SELECT n_chars, SUM(cnt) AS cnt_x FROM c GROUP BY n_chars)
    )
    SELECT cum.source,
           CAST(MAX(cum.n_s) AS BIGINT) AS n_source,
           MAX(abs(CAST(cum.cum_s AS DOUBLE) / cum.n_s
                   - CAST(cumt.cum_all - cum.cum_s AS DOUBLE)
                     / (tot.n_total - cum.n_s))) AS ks_stat
    FROM cum JOIN cumt ON cum.n_chars = cumt.n_chars, tot
    GROUP BY cum.source
""")
def stats_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic, each source vs the
    rest of the corpus, over the document-length distribution:
    KS_s = max_x |F_s(x) - F_rest(x)|. The detector that catches a
    source whose length DISTRIBUTION shifted even when its mean did not
    (the failure mode mean/stddev monitors miss). Exact by
    construction: both ECDFs are INTEGER running sums over the same
    distinct-value grid, divided once each in double at the comparison
    - no interpolation, no binning error. Plan: one (source, x) count
    aggregate, a generated |sources| x |distinct x| grid with
    per-source running-sum windows (each source scans independently; at
    100 TB the grid is bounded by distinct measurement values, not
    rows), and a max aggregate. The corpus-wide ECDF is a TWO-PASS
    prefix sum (operators/twopass.py) - the distinct-value grid is
    bounded by the measurement domain, but a long-tailed domain (byte
    lengths, latencies) can still make a single-partition window the
    straggler, and the two-pass costs the same at small |x|.

    Null measurements are excluded up front: a NULL grid value would
    order NULLS FIRST in Spark but NULLS LAST in DuckDB and silently
    skew both running sums."""
    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("n_chars").isNotNull()))
    c = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt"))
    xs = docs.select("n_chars").distinct()
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    grid = srcs.crossJoin(xs)
    w_s = (Window.partitionBy("source").orderBy("n_chars")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (grid.join(c, ["source", "n_chars"], "left")
           .select("source", "n_s", "n_chars",
                   F.sum(F.coalesce("cnt", F.lit(0))).over(w_s)
                   .alias("cum_s")))
    cnt_x = (c.groupBy("n_chars")
             .agg(F.sum("cnt").cast("long").alias("cnt_x")))
    cumt_tp, _n, _total = twopass.global_prefix(
        cnt_x, [F.asc("n_chars")], sum_col="cnt_x")
    cumt = cumt_tp.select(
        "n_chars", F.col(twopass.SUM_COL).alias("cum_all"))
    d = (F.abs(F.col("cum_s").cast("double") / F.col("n_s")
               - (F.col("cum_all") - F.col("cum_s")).cast("double")
               / (F.col("n_total") - F.col("n_s"))))
    return (cum.join(cumt, "n_chars")
            .crossJoin(F.broadcast(tot))
            .groupBy("source")
            .agg(F.max("n_s").cast("long").alias("n_source"),
                 F.max(d).alias("ks_stat")))


# ---------------------------------------------------------------------
# PQ-ADC approximate nearest neighbors (compressed-domain scoring)
# ---------------------------------------------------------------------

@query("sim_topk_ann_pq", """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c,
             embedding AS sv
      FROM embeddings QUALIFY c < 16
    ),
    ms AS (SELECT unnest(range(0, 4)) AS m),
    cb AS (
      SELECT c, m,
             list_transform(range(1, 17),
               i -> CAST(sv[m*16 + i] AS DOUBLE)) AS cw
      FROM seeds, ms
    ),
    sub AS (
      SELECT vec_id, m,
             list_transform(range(1, 17),
               i -> CAST(embedding[m*16 + i] AS DOUBLE)) AS xv
      FROM embeddings, ms
    ),
    dist AS (
      SELECT s.vec_id, s.m, cb.c,
             list_reduce(list_transform(range(1, 17),
                 i -> (s.xv[i] - cb.cw[i]) * (s.xv[i] - cb.cw[i])),
                 (x, y) -> x + y) AS d
      FROM sub s JOIN cb ON cb.m = s.m
    ),
    codes AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, c) AS rn FROM dist) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < 3),
    qsub AS (
      SELECT qid, m,
             list_transform(range(1, 17),
               i -> CAST(qv[m*16 + i] AS DOUBLE)) AS qm
      FROM q, ms
    ),
    tab AS (
      SELECT qs.qid, qs.m, cb.c,
             list_reduce(list_transform(range(1, 17),
                 i -> qs.qm[i] * cb.cw[i]), (x, y) -> x + y) AS part
      FROM qsub qs JOIN cb ON cb.m = qs.m
    ),
    adc AS (
      SELECT t.qid, co.vec_id,
             MAX(CASE WHEN t.m = 0 THEN t.part END)
             + MAX(CASE WHEN t.m = 1 THEN t.part END)
             + MAX(CASE WHEN t.m = 2 THEN t.part END)
             + MAX(CASE WHEN t.m = 3 THEN t.part END) AS adc
      FROM codes co JOIN tab t ON t.m = co.m AND t.c = co.c
      WHERE co.vec_id != t.qid
      GROUP BY t.qid, co.vec_id
    ),
    pool AS (
      SELECT qid, vec_id, adc FROM (
        SELECT qid, vec_id, adc, row_number() OVER (PARTITION BY qid
               ORDER BY adc DESC, vec_id) AS rn FROM adc) WHERE rn <= 30
    ),
    pairs AS (
      SELECT p.qid, p.vec_id, p.adc,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM pool p
      JOIN q ON q.qid = p.qid
      JOIN embeddings e ON e.vec_id = p.vec_id
    )
    SELECT qid, vec_id, adc, sim,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= 10
""")
def sim_topk_ann_pq(spark, sf_dir):
    """Product-quantization ANN with ADC scoring: the third ANN family
    after SRP-LSH (random hyperplanes) and IVF (learned cells), and the
    one that changes the STORAGE story - the scoring pass reads 4-byte
    PQ codes instead of 256-byte float vectors, so a billion-vector
    corpus scans GBs, not TBs. Deterministic codebooks (subvectors of
    the 16 lowest-id vectors, the ivf refine_steps=0 convention), codes
    by sequential-fold squared-L2 argmin, per-query ADC tables summed
    in pinned subspace order, ADC top-30 pool, exact cosine re-rank to
    top-10. The oracle reproduces codebooks, code assignment, ADC
    scores, pool membership, and the final ranking bit-for-bit.
    Compose with topk_ann_ivf's inverted file for IVF-PQ."""
    from .operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    return similarity.topk_ann_pq(emb, queries, dim=64, k=10, pool=30,
                                  m_sub=4, n_codewords=16) \
        .select("qid", "vec_id", "adc", "sim", "rank")


# ---------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------

@query("orders_rfm_segments", """
    WITH mx AS (SELECT MAX(o_orderdate) AS max_d FROM orders),
    per_cust AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(o_orderdate), mx.max_d) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders, mx GROUP BY o_custkey, mx.max_d
    ),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary,
             ntile(5) OVER (ORDER BY recency_days, custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, custkey) AS m_score
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(SUM(frequency) AS BIGINT) AS total_orders
    FROM scored GROUP BY r_score, f_score, m_score
""")
def orders_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: quintile scores for Recency (days
    since last order, vs the corpus max date), Frequency (order count)
    and Monetary (decimal-exact spend), reported as the segment-cell
    histogram (125 cells max). Scores are deterministic because every
    ORDER BY carries the custkey tie-break - without it, equal-value
    customers straddle quintile boundaries differently per partition
    order and the segmentation is unstable run to run (the classic RFM
    implementation bug). Recency is an integer date diff; monetary
    converts from DECIMAL once. Each quintile is a TWO-PASS global rank
    (operators/twopass.py: range shuffle + broadcast offsets, every
    stage parallel) with NTILE reconstructed from (rank, N) by integer
    bucket math - bit-identical to the single-partition NTILE window it
    replaces (the oracle still says NTILE) but with no serial stage; N
    comes free from the subtotal pass. Three chained two-pass rankings
    over the per-customer aggregate (|customers| rows, not |orders|)."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("max_d"))
    per_cust = (o.crossJoin(F.broadcast(mx))
                .groupBy(F.col("o_custkey").alias("custkey"))
                .agg(F.datediff(F.max("max_d"), F.max("o_orderdate"))
                     .alias("recency_days"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .cast("double").alias("monetary")))
    scored = per_cust
    for score, order in (
            ("r_score", [F.asc("recency_days"), F.asc("custkey")]),
            ("f_score", [F.desc("frequency"), F.asc("custkey")]),
            ("m_score", [F.desc("monetary"), F.asc("custkey")])):
        scored, n_rows, _ = twopass.global_prefix(scored, order)
        scored = (scored.withColumn(
            score, twopass.ntile_from_rank(twopass.ROW_COL, 5, n_rows)
            .cast("int")).drop(twopass.ROW_COL))
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("frequency").cast("long").alias("total_orders")))


# ---------------------------------------------------------------------
# Order cycle-time stats (rank-exact median over date diffs)
# ---------------------------------------------------------------------

@query("orders_cycle_time_stats", """
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT priority, lag_days,
             row_number() OVER (PARTITION BY priority
                                ORDER BY lag_days) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM lag
    ),
    med AS (
      SELECT priority, AVG(CAST(lag_days AS DOUBLE)) AS median_days
      FROM ranked WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY priority
    )
    SELECT r.priority,
           CAST(MAX(r.n) AS BIGINT) AS n_lines,
           CAST(MIN(r.lag_days) AS BIGINT) AS min_days,
           CAST(MAX(r.lag_days) AS BIGINT) AS max_days,
           MAX(m.median_days) AS median_days
    FROM ranked r JOIN med m ON m.priority = r.priority
    GROUP BY r.priority
""")
def orders_cycle_time_stats(spark, sf_dir):
    """Fulfilment cycle time (order date -> line ship date) profiled per
    order priority: integer day lags with min/max and the RANK-EXACT
    median (the events_mad_outliers recipe - explicit middle-element
    average, no interpolating percentile whose midpoint expression
    differs across engines). The operational-latency dashboard query:
    does priority actually buy faster shipping? One equi-join (orders
    broadcast-eligible vs lineitem), one per-priority rank window over
    integer lags, tiny final aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate",
        F.col("o_orderpriority").alias("priority"))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = (li.join(o, li.l_orderkey == o.o_orderkey)
           .select("priority",
                   F.datediff("l_shipdate", "o_orderdate")
                   .alias("lag_days")))
    wr = Window.partitionBy("priority").orderBy("lag_days")
    wn = Window.partitionBy("priority")
    ranked = lag.select("priority", "lag_days",
                        F.row_number().over(wr).alias("rn"),
                        F.count(F.lit(1)).over(wn).alias("n"))
    med = (ranked.filter((F.col("rn") == F.expr("(n + 1) div 2"))
                         | (F.col("rn") == F.expr("(n + 2) div 2")))
           .groupBy("priority")
           .agg(F.avg(F.col("lag_days").cast("double"))
                .alias("median_days")))
    return (ranked.join(F.broadcast(med), "priority")
            .groupBy("priority")
            .agg(F.max("n").cast("long").alias("n_lines"),
                 F.min("lag_days").cast("long").alias("min_days"),
                 F.max("lag_days").cast("long").alias("max_days"),
                 F.max("median_days").alias("median_days")))


# ---------------------------------------------------------------------
# BPE vocabulary induction (iterative merges, value-hashed)
# ---------------------------------------------------------------------

@query("sim_topk_ann_ivfpq", """
    WITH cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             embedding AS cv
      FROM embeddings QUALIFY cid < 16
    ),
    csims AS (
      SELECT e.vec_id, c.cid,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM embeddings e, cent c
    ),
    inv AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, cid) AS rn FROM csims) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS qid, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, cid) AS rn FROM csims WHERE vec_id < 3)
      WHERE rn <= 4
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c,
             embedding AS sv
      FROM embeddings QUALIFY c < 16
    ),
    ms AS (SELECT unnest(range(0, 4)) AS m),
    cb AS (
      SELECT c, m,
             list_transform(range(1, 17),
               i -> CAST(sv[m*16 + i] AS DOUBLE)) AS cw
      FROM seeds, ms
    ),
    sub AS (
      SELECT vec_id, m,
             list_transform(range(1, 17),
               i -> CAST(embedding[m*16 + i] AS DOUBLE)) AS xv
      FROM embeddings, ms
    ),
    dist AS (
      SELECT s.vec_id, s.m, cb.c,
             list_reduce(list_transform(range(1, 17),
                 i -> (s.xv[i] - cb.cw[i]) * (s.xv[i] - cb.cw[i])),
                 (x, y) -> x + y) AS d
      FROM sub s JOIN cb ON cb.m = s.m
    ),
    codes AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, c) AS rn FROM dist) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < 3),
    qsub AS (
      SELECT qid, m,
             list_transform(range(1, 17),
               i -> CAST(qv[m*16 + i] AS DOUBLE)) AS qm
      FROM q, ms
    ),
    tab AS (
      SELECT qs.qid, qs.m, cb.c,
             list_reduce(list_transform(range(1, 17),
                 i -> qs.qm[i] * cb.cw[i]), (x, y) -> x + y) AS part
      FROM qsub qs JOIN cb ON cb.m = qs.m
    ),
    adc AS (
      SELECT t.qid, co.vec_id,
             MAX(CASE WHEN t.m = 0 THEN t.part END)
             + MAX(CASE WHEN t.m = 1 THEN t.part END)
             + MAX(CASE WHEN t.m = 2 THEN t.part END)
             + MAX(CASE WHEN t.m = 3 THEN t.part END) AS adc
      FROM codes co
      JOIN inv i ON i.vec_id = co.vec_id
      JOIN probes p ON p.cid = i.cid
      JOIN tab t ON t.qid = p.qid AND t.m = co.m AND t.c = co.c
      WHERE co.vec_id != t.qid
      GROUP BY t.qid, co.vec_id
    ),
    pool AS (
      SELECT qid, vec_id, adc FROM (
        SELECT qid, vec_id, adc, row_number() OVER (PARTITION BY qid
               ORDER BY adc DESC, vec_id) AS rn FROM adc) WHERE rn <= 30
    ),
    pairs AS (
      SELECT p.qid, p.vec_id, p.adc,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM pool p
      JOIN q ON q.qid = p.qid
      JOIN embeddings e ON e.vec_id = p.vec_id
    )
    SELECT qid, vec_id, adc, sim,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= 10
""")
def sim_topk_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composed ANN (operators/similarity.py::topk_ann_ivfpq):
    the inverted file prunes candidates to each query's 4 probed cells
    BEFORE the PQ-ADC scoring touches them - the billion-vector serving
    design where the hot pass reads (corpus/cells)*nprobe rows of
    m_sub bytes. The oracle fuses the two parents' CTE chains (cell
    assignment/probing from sim_topk_ann_ivf, codes/ADC tables from
    sim_topk_ann_pq) with the cell restriction joined into the ADC
    aggregate, so cells, probes, codes, pinned-order ADC sums, pool
    membership and the exact re-rank are all value-hashed."""
    from .operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    return similarity.topk_ann_ivfpq(
        emb, queries, dim=64, k=10, pool=30, n_centroids=16, nprobe=4,
        m_sub=4, n_codewords=16, refine_steps=0)


@query("text_bpe_merges", """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents WHERE text IS NOT NULL),
    wf AS (SELECT w, COUNT(*) AS f FROM tok WHERE len(w) >= 1 GROUP BY w),
    s0 AS (SELECT '<' || array_to_string(
                    list_transform(range(1, len(w)+1), i -> w[i]), '><')
                  || '>' AS sym, f
           FROM wf),
    p1 AS (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM s0)) GROUP BY pr),
    b1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
    s1 AS (SELECT replace(sym,
             '<' || replace((SELECT pair FROM b1), ' ', '><') || '>',
             '<' || replace((SELECT pair FROM b1), ' ', '+') || '>') AS sym,
             f FROM s0),
    p2 AS (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM s1)) GROUP BY pr),
    b2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
    s2 AS (SELECT replace(sym,
             '<' || replace((SELECT pair FROM b2), ' ', '><') || '>',
             '<' || replace((SELECT pair FROM b2), ' ', '+') || '>') AS sym,
             f FROM s1),
    p3 AS (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM s2)) GROUP BY pr),
    b3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
    SELECT 1 AS step, pair, CAST(cnt AS BIGINT) AS cnt FROM b1
    UNION ALL SELECT 2, pair, CAST(cnt AS BIGINT) FROM b2
    UNION ALL SELECT 3, pair, CAST(cnt AS BIGINT) FROM b3
""")
def text_bpe_merges(spark, sf_dir):
    """The first 3 BPE merges learned from the documents corpus - the
    tokenizer-training loop as iterative distributed aggregates (see
    operators/text.py::bpe_merges for the algorithm and the
    self-delimited-symbol replace trick that keeps the merge identical
    across engines). The oracle unrolls the same 3 iterations as nested
    CTEs with scalar-subquery argmaxes, so the learned merge table -
    pair choice, tie-breaks, and weighted counts - is value-hashed,
    not just row-counted. Per step the driver collects ONE (pair, cnt)
    scalar; everything corpus-sized stays distributed."""
    from .operators.text import bpe_merges
    rows = bpe_merges(_t(spark, sf_dir, "documents"), steps=3)
    return local_frame(spark, rows, "step int, pair string, cnt long")


@query("text_bpe_encode", """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents WHERE text IS NOT NULL),
    wf AS (SELECT w, COUNT(*) AS f FROM tok WHERE len(w) >= 1 GROUP BY w),
    s0 AS (SELECT '<' || array_to_string(
                    list_transform(range(1, len(w)+1), i -> w[i]), '><')
                  || '>' AS sym, f
           FROM wf),
    p1 AS (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM s0)) GROUP BY pr),
    b1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
    s1 AS (SELECT replace(sym,
             '<' || replace((SELECT pair FROM b1), ' ', '><') || '>',
             '<' || replace((SELECT pair FROM b1), ' ', '+') || '>') AS sym,
             f FROM s0),
    p2 AS (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM s1)) GROUP BY pr),
    b2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
    s2 AS (SELECT replace(sym,
             '<' || replace((SELECT pair FROM b2), ' ', '><') || '>',
             '<' || replace((SELECT pair FROM b2), ' ', '+') || '>') AS sym,
             f FROM s1),
    p3 AS (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM s2)) GROUP BY pr),
    b3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
    sel AS (SELECT
        COALESCE((SELECT pair FROM b1), chr(1) || ' ' || chr(1)) AS m1,
        COALESCE((SELECT pair FROM b2), chr(1) || ' ' || chr(1)) AS m2,
        COALESCE((SELECT pair FROM b3), chr(1) || ' ' || chr(1)) AS m3),
    enc AS (
      SELECT d.doc_id,
             list_filter(string_split(d.text, ' '),
                         w -> len(w) >= 1) AS ws,
             sel.m1, sel.m2, sel.m3
      FROM documents d, sel WHERE d.text IS NOT NULL)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(list_transform(ws, w -> len(w))), 0)
                AS BIGINT) AS n_chars_tokenized,
           CAST(COALESCE(list_sum(list_transform(ws, w ->
               len(string_split(replace(replace(replace(
                 '<' || array_to_string(list_transform(
                     range(1, len(w)+1), i -> w[i]), '><') || '>',
                 '<' || replace(m1, ' ', '><') || '>',
                 '<' || replace(m1, ' ', '+') || '>'),
                 '<' || replace(m2, ' ', '><') || '>',
                 '<' || replace(m2, ' ', '+') || '>'),
                 '<' || replace(m3, ' ', '><') || '>',
                 '<' || replace(m3, ' ', '+') || '>'), '><')))), 0)
                AS BIGINT) AS n_bpe_tokens
    FROM enc
""")
def text_bpe_encode(spark, sf_dir):
    """APPLY the learned BPE vocabulary: train the 3-merge table on the
    corpus (same loop as text_bpe_merges), then ENCODE every document
    with it - per-doc word/char/BPE-token accounting, the serve half of
    the tokenizer lifecycle. The encode itself is a zero-shuffle narrow
    map (JVM expressions: self-delimited symbols + one replace per
    merge, plan-asserted in test_plans); only the training loop runs
    jobs. The oracle re-learns the same merges as unrolled CTEs, pins
    missing merges to a chr(1) sentinel pair that never matches (tiny
    corpora yield <3 merges on both engines identically), and re-counts
    the encoded symbols per word with the identical replace chain -
    value-hashing that the distributed tokenizer pass and SQL agree on
    every document's token count."""
    from .operators.text import bpe_encode_counts, bpe_merges
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_merges(docs, steps=3)
    return bpe_encode_counts(docs, merges)


def _bpe_batched_oracle(rounds: int = 2, round_size: int = 4,
                        window: int = 32) -> str:
    """Unrolled-CTE oracle for the BATCHED BPE rule: per round, a pair
    count table, a top-``window`` candidate cut, ``round_size`` greedy
    symbol-disjoint selections (each a scalar-subquery argmax excluding
    overlap with every earlier pick), then all selected merges applied
    to the symbol frame at once. Missing picks (a round with fewer
    disjoint candidates) coalesce to a chr(1) sentinel pair that never
    matches in the replace chain, and overlap exclusion uses
    split_part + NOT IN subqueries (an empty earlier pick excludes
    nothing) - DuckDB's list_has_any is a lambda-backed macro that
    rejects subquery arguments."""
    sent = "chr(1) || ' ' || chr(1)"
    parts = ["""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents WHERE text IS NOT NULL),
    wf AS (SELECT w, COUNT(*) AS f FROM tok WHERE len(w) >= 1 GROUP BY w),
    s0 AS MATERIALIZED (SELECT '<' || array_to_string(
                    list_transform(range(1, len(w)+1), i -> w[i]), '><')
                  || '>' AS sym, f
           FROM wf)"""]
    selects = []
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(f""",
    p{r} AS MATERIALIZED (SELECT pr AS pair, SUM(f) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pr, f
             FROM (SELECT string_split(sym[2:len(sym)-1], '><') AS t, f
                   FROM {prev})) GROUP BY pr),
    c{r} AS MATERIALIZED (SELECT pair, cnt, split_part(pair, ' ', 1) AS x,
                    split_part(pair, ' ', 2) AS y
             FROM p{r} ORDER BY cnt DESC, pair LIMIT {window})""")
        for k in range(1, round_size + 1):
            conds = "".join(
                f"\n               AND x NOT IN (SELECT x FROM b{r}_{j} "
                f"UNION ALL SELECT y FROM b{r}_{j})"
                f"\n               AND y NOT IN (SELECT x FROM b{r}_{j} "
                f"UNION ALL SELECT y FROM b{r}_{j})"
                for j in range(1, k))
            parts.append(f""",
    b{r}_{k} AS MATERIALIZED (SELECT pair, cnt, x, y FROM c{r}
             WHERE TRUE{conds}
             ORDER BY cnt DESC, pair LIMIT 1)""")
            selects.append(f"SELECT {(r - 1) * round_size + k} AS step, "
                           f"pair, CAST(cnt AS BIGINT) AS cnt "
                           f"FROM b{r}_{k}")
        repl = "sym"
        for k in range(1, round_size + 1):
            p = f"coalesce((SELECT pair FROM b{r}_{k}), {sent})"
            repl = (f"replace({repl}, '<' || replace({p}, ' ', '><') "
                    f"|| '>', '<' || replace({p}, ' ', '+') || '>')")
        parts.append(f""",
    s{r} AS MATERIALIZED (SELECT {repl} AS sym, f FROM {prev})""")
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@query("text_bpe_merges_batched", _bpe_batched_oracle())
def text_bpe_merges_batched(spark, sf_dir):
    """The first 8 BPE merges learned with the BATCHED rule: 4
    symbol-disjoint merges per round from a 32-candidate window - TWO
    pair-count jobs instead of eight (operators/text.py::
    bpe_merges_batched; the r4 verdict's scale fix for the job-per-merge
    loop, which stands as the exact-classic-BPE baseline in
    text_bpe_merges). Disjointness makes each round's counts exact;
    the selection rule (defer pairs built from this round's merges to
    the next round) is the standard parallel-BPE approximation, and the
    oracle unrolls the identical rule - candidate LIMIT, greedy
    overlap exclusion via scalar-subquery argmaxes, positional step
    numbers - so the merge table is value-hashed across engines."""
    from .operators.text import bpe_merges_batched
    rows = bpe_merges_batched(_t(spark, sf_dir, "documents"),
                              steps=8, round_size=4, window=32)
    return local_frame(spark, rows, "step int, pair string, cnt long")


# ---------------------------------------------------------------------
# One-pass table profile (the DESCRIBE/df.describe analogue, exact)
# ---------------------------------------------------------------------

_PROFILE_COLS = [
    ("o_orderkey", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}"),
    ("o_totalprice",
     "CASE WHEN {c} IS NOT NULL THEN printf('%.2f', {c}) END"),
    ("o_orderdate", "CAST(CAST({c} AS DATE) AS VARCHAR)"),
    ("o_orderpriority", "{c}"),
]


@query("profile_table_describe", """
    WITH w AS (
      SELECT COUNT(*) AS n_rows,
    """ + ",\n".join(
    f"""        SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nn_{c},
        COUNT(DISTINCT {c}) AS nd_{c},
        MIN({c}) AS mn_{c},
        MAX({c}) AS mx_{c}"""
    for c, _fmt in _PROFILE_COLS) + """
      FROM orders
    )
    SELECT r.col, w.n_rows, r.n_nulls, r.n_distinct, r.min_str, r.max_str
    FROM w, LATERAL (VALUES
    """ + ",\n".join(
    f"      ('{c}', CAST(nn_{c} AS BIGINT), CAST(nd_{c} AS BIGINT), "
    f"{fmt.format(c=f'mn_{c}')}, {fmt.format(c=f'mx_{c}')})"
    for c, fmt in _PROFILE_COLS) + """
    ) AS r(col, n_nulls, n_distinct, min_str, max_str)
""")
def profile_table_describe(spark, sf_dir):
    """Exact one-pass table profile (the warehouse DESCRIBE/df.describe
    analogue): per column, null count, EXACT distinct count, and
    min/max - all computed in a single scan as stacked aggregates and
    unpivoted to one row per column. Naive profilers issue one query
    per column (N scans) or sample; this plan pays one pass + Spark's
    multi-distinct Expand. Min/max are computed on the NATIVE values
    (a min over formatted strings would be lexicographic - '100.00' <
    '99.00') and canonicalized to strings afterwards with
    engine-portable formats (printf('%.2f') for money - a raw
    double->string cast formats differently per engine; ISO casts for
    dates; decimal-free casts for keys). agg_approx_distinct is the
    sketch alternative when exact distincts don't justify the Expand."""
    o = _t(spark, sf_dir, "orders")
    fmt_funcs = {
        "o_orderkey": lambda x: x.cast("string"),
        "o_custkey": lambda x: x.cast("string"),
        "o_orderstatus": lambda x: x,
        # null guard: Spark format_string renders a NULL arg as the
        # STRING 'null' (then '%.2f' truncates it to 'nu') while DuckDB
        # printf yields NULL - guard both engines explicitly
        "o_totalprice": lambda x: F.when(
            x.isNotNull(), F.format_string("%.2f", x)),
        "o_orderdate": lambda x: x.cast("date").cast("string"),
        "o_orderpriority": lambda x: x,
    }
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c, _ in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long").alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"),
            F.min(F.col(c)).alias(f"mn_{c}"),
            F.max(F.col(c)).alias(f"mx_{c}"),
        ]
    wide = o.agg(*aggs)
    rows = [
        F.struct(F.lit(c).alias("col"),
                 F.col("n_rows"),
                 F.col(f"nn_{c}").alias("n_nulls"),
                 F.col(f"nd_{c}").alias("n_distinct"),
                 fmt_funcs[c](F.col(f"mn_{c}")).alias("min_str"),
                 fmt_funcs[c](F.col(f"mx_{c}")).alias("max_str"))
        for c, _ in _PROFILE_COLS
    ]
    return (wide.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.col", "p.n_rows", "p.n_nulls", "p.n_distinct",
                    "p.min_str", "p.max_str"))


# ---------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law over ingestion order)
# ---------------------------------------------------------------------

@query("docs_vocab_growth", """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    firsts AS (SELECT w, MIN(doc_id) AS first_doc FROM tok GROUP BY w),
    tok_per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ),
    bounds AS (SELECT MAX(doc_id) AS max_id FROM tok),
    cps AS (SELECT unnest(range(1, 11)) AS decile),
    marks AS (
      SELECT decile, (bounds.max_id + 1) * decile // 10 - 1 AS cutoff
      FROM cps, bounds
    )
    SELECT m.decile,
           CAST(m.cutoff AS BIGINT) AS cutoff_doc_id,
           CAST(COALESCE((SELECT SUM(n_tok) FROM tok_per_doc
                 WHERE doc_id <= m.cutoff), 0) AS BIGINT)
             AS corpus_tokens,
           CAST((SELECT COUNT(*) FROM firsts
                 WHERE first_doc <= m.cutoff) AS BIGINT) AS distinct_vocab
    FROM marks m
""")
def docs_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps' law): at each ingestion decile,
    cumulative corpus tokens vs distinct vocabulary seen so far - the
    scaling-law diagnostic for a training corpus (a plateauing curve
    means new data is re-treading old vocabulary; a linear one means
    heavy novelty/noise). The naive form re-scans per checkpoint (10
    full distinct-counts); this computes each token's FIRST carrier doc
    once (one aggregate), then every checkpoint is a filtered count of
    the tiny firsts table - 1 corpus pass total, 10 checkpoint counts
    over |vocab| rows. All integer arithmetic. Every decile row is
    emitted even when its cutoff precedes all doc_ids (tiny corpora
    with <10 dense ids): the checkpoint joins are LEFT from marks with
    counts coalesced to 0, matching the oracle's scalar subqueries
    (r4 advice - the inner join silently dropped such deciles)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    # token counts come from size(split()) - no second explode pass;
    # bounds derive from the tiny per-doc aggregate, not a third scan
    per_doc = docs.select("doc_id",
                          F.size(F.split("text", " ")).cast("long")
                          .alias("n_tok"))
    bounds = per_doc.agg(F.max("doc_id").alias("max_id"))
    marks = (spark.range(1, 11).select(F.col("id").cast("int")
                                       .alias("decile"))
             .crossJoin(F.broadcast(bounds))
             .select("decile", F.expr("(max_id + 1) * decile div 10 - 1")
                     .alias("cutoff")))
    toks_at = (marks.join(per_doc, per_doc.doc_id <= marks.cutoff)
               .groupBy("decile")
               .agg(F.sum("n_tok").cast("long").alias("corpus_tokens")))
    vocab_at = (marks.join(firsts, firsts.first_doc <= marks.cutoff)
                .groupBy("decile")
                .agg(F.count(F.lit(1)).cast("long").alias("distinct_vocab")))
    return (marks.join(toks_at, "decile", "left")
            .join(vocab_at, "decile", "left")
            .select("decile", F.col("cutoff").cast("long")
                    .alias("cutoff_doc_id"),
                    F.coalesce("corpus_tokens", F.lit(0)).cast("long")
                    .alias("corpus_tokens"),
                    F.coalesce("distinct_vocab", F.lit(0)).cast("long")
                    .alias("distinct_vocab")))


# ---------------------------------------------------------------------
# Inter-arrival profile (event-rate characterization, integer-exact)
# ---------------------------------------------------------------------

@query("events_dwell_time", """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    ranked AS (
      SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY gap_us) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM g WHERE gap_us IS NOT NULL
    ),
    med AS (
      SELECT event_type, AVG(CAST(gap_us AS DOUBLE)) AS median_gap_us
      FROM ranked WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(MAX(r.n) AS BIGINT) AS n_gaps,
           CAST(MIN(r.gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(r.gap_us) AS BIGINT) AS max_gap_us,
           MAX(m.median_gap_us) AS median_gap_us
    FROM ranked r JOIN med m ON m.event_type = r.event_type
    GROUP BY r.event_type
""")
def events_dwell_time(spark, sf_dir):
    """Inter-arrival (dwell) profile per event type: gaps between
    consecutive events of the same type in INTEGER microseconds (the
    repo's event-time recipe - timestamp subtraction in micros, never
    float seconds), with min/max and the rank-exact median. This is the
    arrival-rate characterization that sizes streaming watermarks and
    session gaps: a session window should exceed the intra-type median
    gap by a margin, and a watermark should cover the max observed
    disorder. One lag window + one rank window, both partitioned by
    event_type (parallel across types at any scale); ties in the lag
    ordering break on event_id."""
    e = _events(spark, sf_dir)
    lagw = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (e.select("event_type",
                  (F.unix_micros("ts")
                   - F.lag(F.unix_micros("ts")).over(lagw)).alias("gap_us"))
         .filter(F.col("gap_us").isNotNull()))
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    wn = Window.partitionBy("event_type")
    ranked = g.select("event_type", "gap_us",
                      F.row_number().over(wr).alias("rn"),
                      F.count(F.lit(1)).over(wn).alias("n"))
    med = (ranked.filter((F.col("rn") == F.expr("(n + 1) div 2"))
                         | (F.col("rn") == F.expr("(n + 2) div 2")))
           .groupBy("event_type")
           .agg(F.avg(F.col("gap_us").cast("double"))
                .alias("median_gap_us")))
    return (ranked.join(F.broadcast(med), "event_type")
            .groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n_gaps"),
                 F.min("gap_us").cast("long").alias("min_gap_us"),
                 F.max("gap_us").cast("long").alias("max_gap_us"),
                 F.max("median_gap_us").alias("median_gap_us")))


# ---------------------------------------------------------------------
# Temporal seasonality profile (hour-of-day x day-of-week)
# ---------------------------------------------------------------------

@query("events_seasonality_profile", """
    SELECT isodow(ts) AS dow,
           EXTRACT(hour FROM ts) AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM events
    GROUP BY dow, hour
""")
def events_seasonality_profile(spark, sf_dir):
    """Seasonality heat map: event volume (and purchase volume) per
    (ISO day-of-week, hour-of-day) cell - the load/traffic profile that
    sizes capacity and flags daypart anomalies. All-UTC integer
    calendar extraction (the session pins UTC, so isodow/hour agree
    across engines); one map-side-combined aggregate, 7x24 output rows
    max at any scale."""
    e = _events(spark, sf_dir)
    return (e.groupBy(
        F.dayofweek(F.col("ts")).alias("_sun1"),
        F.hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).cast("long").alias("n_purchases"))
        # Spark dayofweek is 1=Sunday; ISO dow is 1=Monday..7=Sunday
        .select(((F.col("_sun1") + 5) % 7 + 1).cast("long").alias("dow"),
                F.col("hour").cast("long").alias("hour"),
                "n_events", "n_purchases"))


# ---------------------------------------------------------------------
# Cumulative user growth (first-seen trick, no per-day distincts)
# ---------------------------------------------------------------------

@query("events_user_growth", """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM daily
""")
def events_user_growth(spark, sf_dir):
    """Daily new-user and cumulative-user curve via the first-seen
    trick: compute each user's FIRST active day once (one aggregate),
    then new_users(day) is a count over the tiny firsts table and the
    cumulative curve is a running sum over |days| rows. The naive form
    - COUNT(DISTINCT user) over an expanding window - rescans the event
    table per day and holds a growing distinct set; this never touches
    events twice. Same pattern as docs_vocab_growth (Heaps' law), which
    is the content-side twin. All integer arithmetic; the day is
    emitted as an ISO string (dates render identically on both
    engines)."""
    e = _events(spark, sf_dir)
    firsts = (e.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    daily = (firsts.groupBy(F.col("first_day").alias("day"))
             .agg(F.count(F.lit(1)).alias("new_users")))
    run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(run).cast("long")
        .alias("cumulative_users"))


# ---------------------------------------------------------------------
# Window frame semantics (the default-frame last_value trap, made exact)
# ---------------------------------------------------------------------

@query("w7_frame_first_last", """
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      FROM orders WHERE o_custkey < 50
    )
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS first_order,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS last_order_default_frame,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_order_full_frame,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_order
    FROM o
""")
def w7_frame_first_last(spark, sf_dir):
    """first/last/nth_value with EXPLICIT frames, demonstrating (and
    pinning cross-engine) the classic trap: an ORDER BY window defaults
    to RANGE UNBOUNDED PRECEDING..CURRENT ROW, so default-frame
    last_value is just the current peer group's tail - NOT the
    partition's last row; the full-frame variant is. Both variants are
    emitted side by side and value-hashed, so the engine's frame
    semantics (including the RANGE peer-group subtlety on duplicate
    sort keys - the (date, key) ordering here makes peers unique and
    both engines agree) are locked by the oracle. One window shuffle;
    bounded to 50 customers to keep the demo output small."""
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_custkey") < 50)
         .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"))
    wdef = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                   "o_orderkey")
    wfull = wdef.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    return o.select(
        "o_custkey", "o_orderkey",
        F.first("o_orderkey").over(wdef).alias("first_order"),
        F.last("o_orderkey").over(wdef).alias("last_order_default_frame"),
        F.last("o_orderkey").over(wfull).alias("last_order_full_frame"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_order"))
