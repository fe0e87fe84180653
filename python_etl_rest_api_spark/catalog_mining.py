"""Round-7 catalog entries, fourth wave (grown across the round-6
session): market-style OHLC bars, sequence-path mining, distribution
audits (Benford, Gini/Lorenz, ABC, runs test, A/B SRM + uplift),
privacy-preserving pseudonymized joins, the hashing-trick featurizer
and smoothed target encoding, the JSON-lines source round trip that
completes the four-format source matrix (CSV / parquet / ORC / JSONL),
Walsh-Hadamard spectral bands and energy-gated VAD over real WAV
payloads, the GIF89a LZW codec, hourly activity bitmaps, freshness
watermarks, exact two-regressor OLS, the cosine-similarity histogram
and IVF recall-vs-nprobe tuning curves, brand-partition modularity,
class-balanced sampling, RAKE keywords, the language-ID confusion
matrix, PK uniqueness audits, and the SCD2 point-in-time lookup.

The reference (/root/reference/ — a 313-line pandas ETL + FastAPI app,
etl/03_transform_and_load.py + api/first100.py) has none of these; they
extend the engine along the north-star axes under the repo's exactness
discipline:

- every published column in this wave is BIGINT / INTEGER / VARCHAR /
  TIMESTAMP — zero float-published columns, so no entry can enter
  COVERAGE.md hazard class 6;
- money and event values are floored to integer cents / micros per row
  BEFORE any aggregation (the winsorize/permutation-test recipe);
- global rank / prefix-share computations (Gini, ABC) go through
  operators/twopass.global_prefix, never an unpartitioned window, so
  the plans survive a 1000-executor scale-up;
- floor divisions run on BIGINT (or are cast to HUGEINT on the DuckDB
  side first: DuckDB's ``//`` over DECIMAL operands performs DECIMAL
  division, not floor — the BM25 lesson, re-verified this round);
- every oracle integer SUM is CAST AS BIGINT (DuckDB types them
  HUGEINT, which the driver's type-sensitive hash rejects).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _events, _t, query
from .operators.twopass import ROW_COL, SUM_COL, global_prefix
from .session import local_frame, scratch_dir

# Deterministic per-row event value in integer micro-units - identical
# guard + flooring on both engines (the stats_permutation_test recipe).
_VMIC_SQL = ("CASE WHEN value IS NOT NULL AND NOT isnan(value) "
             "AND value >= 0 AND value < 1e12 "
             "THEN CAST(floor(value * 1000000.0) AS BIGINT) END")


def _vmic():
    return (F.when(F.col("value").isNotNull()
                   & ~F.isnan(F.col("value"))
                   & (F.col("value") >= 0) & (F.col("value") < 1e12),
                   F.floor(F.col("value") * 1000000.0).cast("long")))


def _h32(prefix: str, col):
    """Deterministic 32-bit hash: first 8 hex chars of md5(prefix||col)
    as a BIGINT in [0, 2^32). Same recipe as sketch_kmv_distinct /
    privacy_dp_counts, so the Spark and DuckDB sides agree bit-for-bit.
    """
    return (F.conv(F.substring(
                F.md5(F.concat(F.lit(prefix), col.cast("string"))
                      .cast("binary")), 1, 8), 16, 10)
            .cast("long"))


# ---------------------------------------------------------------------
# OHLC hourly bars — open/high/low/close per (event_type, hour)
# ---------------------------------------------------------------------

@query("events_ohlc_hourly", f"""
    WITH e AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id,
             {_VMIC_SQL} AS vmic
      FROM events WHERE event_type IS NOT NULL),
    f AS (SELECT * FROM e WHERE vmic IS NOT NULL),
    r AS (
      SELECT event_type, hr, vmic,
             row_number() OVER (PARTITION BY event_type, hr
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, hr
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM f)
    SELECT event_type, hr,
           COUNT(*) AS n_events,
           CAST(MAX(CASE WHEN rn_a = 1 THEN vmic END) AS BIGINT)
             AS open_micros,
           CAST(MAX(vmic) AS BIGINT) AS high_micros,
           CAST(MIN(vmic) AS BIGINT) AS low_micros,
           CAST(MAX(CASE WHEN rn_d = 1 THEN vmic END) AS BIGINT)
             AS close_micros
    FROM r GROUP BY event_type, hr
""")
def events_ohlc_hourly(spark, sf_dir):
    """Financial-style OHLC candles over the event stream: per
    (event_type, hour) the first (open), max (high), min (low), and
    last (close) value, in exact integer micros. First/last are
    resolved by a window PARTITIONED on the bar key with the
    (ts, event_id) total order — one hash shuffle on the bar key which
    the following groupBy reuses (same keys, no second exchange), so
    the plan is a single-shuffle bar builder that scales with bars,
    not rows-per-bar arriving at one task. Extends the reference's
    aggregate surface (etl/03_transform_and_load.py builds only
    groupby sums) to order-sensitive aggregates."""
    e = _events(spark, sf_dir)
    base = (e.filter(F.col("event_type").isNotNull())
            .select("event_type",
                    F.date_trunc("hour", "ts").alias("hr"),
                    "ts", "event_id", _vmic().alias("vmic"))
            .filter(F.col("vmic").isNotNull()))
    wa = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    r = (base.withColumn("rn_a", F.row_number().over(wa))
         .withColumn("rn_d", F.row_number().over(wd)))
    return (r.groupBy("event_type", "hr")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max(F.when(F.col("rn_a") == 1, F.col("vmic")))
                 .alias("open_micros"),
                 F.max("vmic").alias("high_micros"),
                 F.min("vmic").alias("low_micros"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("vmic")))
                 .alias("close_micros")))


# ---------------------------------------------------------------------
# Top event-type paths — 3-step sequence mining per user
# ---------------------------------------------------------------------

@query("events_top_paths", """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    p AS (
      SELECT event_type || ' > ' || lead(event_type, 1) OVER w
             || ' > ' || lead(event_type, 2) OVER w AS path
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    c AS (
      SELECT path, COUNT(*) AS n FROM p
      WHERE path IS NOT NULL GROUP BY path)
    SELECT path, n,
           CAST(row_number() OVER (ORDER BY n DESC, path) AS INTEGER)
             AS rk
    FROM c QUALIFY rk <= 20
""")
def events_top_paths(spark, sf_dir):
    """Sequential-pattern head: the 20 most common 3-step event-type
    paths (clickstream n-grams) across per-user journeys. The lead
    window is PARTITIONED by user (parallel); the path count is a
    partial+final aggregate over a path-vocabulary-sized key space; the
    top-20 is TakeOrderedAndProject (per-partition heads + driver
    merge), so no stage ever single-partitions the corpus. NULL
    propagation (F.concat, not concat_ws) drops the <3-step tails in
    both engines identically."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (e.filter(F.col("event_type").isNotNull()
                      & F.col("user_id").isNotNull())
             .select("user_id", "event_type", "ts", "event_id")
             .withColumn("path", F.concat(
                 F.col("event_type"), F.lit(" > "),
                 F.lead("event_type", 1).over(w), F.lit(" > "),
                 F.lead("event_type", 2).over(w)))
             .filter(F.col("path").isNotNull()))
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "path").limit(20)
    wr = Window.orderBy(F.col("n").desc(), "path")
    return top.select("path", "n",
                      F.row_number().over(wr).cast("int").alias("rk"))


# ---------------------------------------------------------------------
# Benford first-digit audit — fraud-screen distribution check
# ---------------------------------------------------------------------

_BENFORD_SQL = """CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176
    WHEN '3' THEN 125 WHEN '4' THEN 97 WHEN '5' THEN 79
    WHEN '6' THEN 67 WHEN '7' THEN 58 WHEN '8' THEN 51
    ELSE 46 END"""


@query("stats_benford_first_digit", f"""
    WITH d AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS total
          FROM c)
    SELECT digit, n,
           CAST(n * 1000 // total AS BIGINT) AS obs_permille,
           CAST({_BENFORD_SQL} AS BIGINT) AS exp_permille,
           CAST(n * 1000 // total - {_BENFORD_SQL} AS BIGINT)
             AS dev_permille
    FROM t
""")
def stats_benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit audit on order totals: observed
    per-digit frequency in permille vs the Benford expectation
    (round(log10(1+1/d)*1000) as integer literals, identical on both
    sides), published as exact integer permille via BIGINT floor
    division. The only window runs over the 9 aggregated digit rows —
    a constant-size frame whatever the corpus. The first digit is
    taken from the integer part's decimal string (identical substr in
    both engines), never via float log10, whose boundary cells
    (1000.0) are representation-hazardous."""
    o = _t(spark, sf_dir, "orders")
    d = (o.filter(F.col("o_totalprice") >= 1)
         .select(F.substring(F.floor("o_totalprice").cast("long")
                             .cast("string"), 1, 1).alias("digit")))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.withColumn(
        "total", F.sum("n").over(
            Window.partitionBy(F.lit(1))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)).cast("long"))
    exp = (F.when(F.col("digit") == "1", 301)
           .when(F.col("digit") == "2", 176)
           .when(F.col("digit") == "3", 125)
           .when(F.col("digit") == "4", 97)
           .when(F.col("digit") == "5", 79)
           .when(F.col("digit") == "6", 67)
           .when(F.col("digit") == "7", 58)
           .when(F.col("digit") == "8", 51)
           .otherwise(46).cast("long"))
    return t.select(
        "digit", "n",
        F.expr("n * 1000 div total").alias("obs_permille"),
        exp.alias("exp_permille"),
        (F.expr("n * 1000 div total") - exp).alias("dev_permille"))


# ---------------------------------------------------------------------
# Gini / Lorenz inequality of customer spend — two-pass global rank
# ---------------------------------------------------------------------

@query("stats_gini_lorenz", """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS spend_cents
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT spend_cents,
             row_number() OVER (ORDER BY spend_cents, o_custkey) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(spend_cents) OVER () AS BIGINT) AS tot
      FROM spend),
    s AS (
      SELECT MAX(n) AS n, MAX(tot) AS tot,
             CAST(SUM(CAST(i AS DECIMAL(19,0))
                      * CAST(spend_cents AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS s_iw,
             CAST(SUM(CASE WHEN i > n - n // 10 THEN spend_cents
                           ELSE 0 END) AS BIGINT) AS top_cents
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_customers,
           tot AS total_cents,
           CAST(CAST((2 * s_iw - (CAST(n AS DECIMAL(19,0)) + 1)
                      * CAST(tot AS DECIMAL(19,0))) * 1000000
                     AS HUGEINT)
                // CAST(CAST(n AS DECIMAL(19,0))
                        * CAST(tot AS DECIMAL(19,0)) AS HUGEINT)
                AS BIGINT) AS gini_micros,
           CAST(top_cents * 1000 // tot AS BIGINT)
             AS top_decile_permille
    FROM s
""")
def stats_gini_lorenz(spark, sf_dir):
    """Inequality profile of customer spend: the exact Gini
    coefficient in integer micro-units via the rank identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending
    exact-cents spend, plus the Lorenz top-decile share in permille.
    The global rank comes from operators/twopass.global_prefix (range
    shuffle + partition-local windows + broadcast offsets), never an
    unpartitioned window, and global_prefix returns n and the total as
    driver literals for free — so the only distributed aggregate left
    is the single sum(i*x_i), carried in DECIMAL(38,0) (BIGINT
    overflows beyond ~sf1; DuckDB's ``//`` needs HUGEINT operands for
    true floor — both sides therefore floor-divide a >=0 numerator,
    where Spark's truncating div agrees)."""
    o = _t(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")
                        * 100).cast("long").alias("spend_cents")))
    g, n, tot = global_prefix(
        spend, [F.col("spend_cents"), F.col("o_custkey")],
        sum_col="spend_cents")
    cut = n - n // 10
    aggd = g.agg(
        F.sum(F.col(ROW_COL).cast("decimal(19,0)")
              * F.col("spend_cents").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("s_iw"),
        F.sum(F.when(F.col(ROW_COL) > cut, F.col("spend_cents"))
              .otherwise(0)).cast("long").alias("top_cents"))
    return aggd.select(
        F.lit(n).cast("long").alias("n_customers"),
        F.lit(tot).cast("long").alias("total_cents"),
        F.expr(
            f"CAST((2 * s_iw - CAST('{(n + 1) * tot}' AS DECIMAL(38,0)))"
            f" * 1000000 div CAST('{n * tot}' AS DECIMAL(38,0))"
            f" AS BIGINT)").alias("gini_micros"),
        F.expr(f"CAST(top_cents * 1000 div {tot} AS BIGINT)")
        .alias("top_decile_permille"))


# ---------------------------------------------------------------------
# ABC (Pareto-class) inventory classification — two-pass prefix share
# ---------------------------------------------------------------------

@query("orders_abc_classes", """
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey),
    r AS (
      SELECT rev_cents,
             CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC,
                                       l_partkey) AS BIGINT) AS csum,
             CAST(SUM(rev_cents) OVER () AS BIGINT) AS tot
      FROM rev),
    cls AS (
      SELECT CASE WHEN csum * 100 <= 80 * tot THEN 'A'
                  WHEN csum * 100 <= 95 * tot THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_cents, tot
      FROM r)
    SELECT abc_class, COUNT(*) AS n_parts,
           CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(rev_cents) * 1000 // CAST(MAX(tot) AS HUGEINT)
                AS BIGINT) AS share_permille
    FROM cls GROUP BY abc_class
""")
def orders_abc_classes(spark, sf_dir):
    """ABC inventory classification: parts whose descending cumulative
    revenue share reaches 80% are class A, 95% class B, the tail C —
    the classic Pareto cut, decided by exact integer cross-
    multiplication (csum*100 <= 80*tot), never a float share. The
    descending cumulative sum is the two-pass global prefix scan over
    the part-level aggregate (vocabulary-sized input, range-shuffled,
    partition-local windows); the totals it returns fold into the
    class predicate as literals."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                      * 100).cast("long").alias("rev_cents")))
    g, n, tot = global_prefix(
        rev, [F.col("rev_cents").desc(), F.col("l_partkey")],
        sum_col="rev_cents")
    cls = g.withColumn(
        "abc_class",
        F.when(F.col(SUM_COL) * 100 <= 80 * tot, "A")
        .when(F.col(SUM_COL) * 100 <= 95 * tot, "B")
        .otherwise("C"))
    return (cls.groupBy("abc_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("rev_cents").cast("long").alias("revenue_cents"))
            .withColumn("share_permille",
                        F.expr(f"CAST(revenue_cents * 1000 div {tot} "
                               f"AS BIGINT)")))


# ---------------------------------------------------------------------
# Pseudonymized join — GDPR-style keyed tokenization keeps joins alive
# ---------------------------------------------------------------------

@query("privacy_pseudonymize_join", """
    WITH ct AS (
      SELECT sha256('pseud:v1:' || CAST(c_custkey AS VARCHAR))
               AS token, c_mktsegment
      FROM customer),
    ot AS (
      SELECT sha256('pseud:v1:' || CAST(o_custkey AS VARCHAR))
               AS token,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS spend_cents
      FROM orders GROUP BY 1),
    j AS (
      SELECT ot.token, ct.c_mktsegment, ot.n_orders, ot.spend_cents
      FROM ot JOIN ct ON ot.token = ct.token)
    SELECT substr(token, 1, 12) AS token_prefix, c_mktsegment,
           n_orders, spend_cents,
           CAST(row_number() OVER (ORDER BY n_orders DESC, token)
                AS INTEGER) AS rk
    FROM j QUALIFY rk <= 10
""")
def privacy_pseudonymize_join(spark, sf_dir):
    """Pseudonymization that preserves referential integrity: both
    sides replace the raw customer key with a salted SHA-256 token
    (versioned salt 'pseud:v1:'), then join ON THE TOKENS — proving an
    anonymized lake still supports cross-table analytics without ever
    materializing the raw key. Orders pre-aggregate per token before
    the join (token-vocabulary-sized build side); the top-10 head is
    TakeOrderedAndProject. Published token prefixes are 48 bits — a
    display handle, not a reversible key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    tok = lambda col: F.sha2(  # noqa: E731
        F.concat(F.lit("pseud:v1:"), col.cast("string")), 256)
    ct = c.select(tok(F.col("c_custkey")).alias("token"),
                  "c_mktsegment")
    ot = (o.select(tok(F.col("o_custkey")).alias("token"),
                   "o_totalprice")
          .groupBy("token")
          .agg(F.count(F.lit(1)).alias("n_orders"),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
               .cast("long").alias("spend_cents")))
    j = ot.join(ct, "token")
    top = j.orderBy(F.col("n_orders").desc(), "token").limit(10)
    w = Window.orderBy(F.col("n_orders").desc(), "token")
    return top.select(
        F.substring("token", 1, 12).alias("token_prefix"),
        "c_mktsegment", "n_orders", "spend_cents",
        F.row_number().over(w).cast("int").alias("rk"))


# ---------------------------------------------------------------------
# Hashing-trick featurizer — fixed-width bag-of-words without a vocab
# ---------------------------------------------------------------------

@query("text_hashing_features", """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
    b AS (
      SELECT source,
             CAST(('0x' || substr(md5('feat:' || term), 1, 8))::BIGINT
                  % 64 AS INTEGER) AS bucket
      FROM tok WHERE term <> ''),
    c AS (SELECT source, bucket, COUNT(*) AS n
          FROM b GROUP BY source, bucket)
    SELECT source, bucket, n,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY n DESC, bucket)
                AS INTEGER) AS rk
    FROM c QUALIFY rk <= 3
""")
def text_hashing_features(spark, sf_dir):
    """The hashing trick (feature hashing): tokens map straight to a
    fixed 64-bucket feature space via md5 — no vocabulary pass, no
    dictionary broadcast, which is why it is THE featurizer for
    unbounded token streams at 100 TB. Published head: each source's 3
    hottest feature buckets. The bucket hash is the repo's md5-conv
    recipe (bit-identical in both engines); counts shuffle on
    (source, bucket) — 64*sources cells — and the rank window runs per
    source over <=64 aggregated rows."""
    d = _t(spark, sf_dir, "documents")
    tok = (d.filter(F.col("source").isNotNull()
                    & F.col("text").isNotNull())
           .select("source",
                   F.explode(F.split("text", " ")).alias("term"))
           .filter(F.col("term") != ""))
    b = tok.select(
        "source",
        (_h32("feat:", F.col("term")) % 64).cast("int").alias("bucket"))
    c = (b.groupBy("source", "bucket")
         .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "bucket")
    return (c.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= 3))


# ---------------------------------------------------------------------
# JSON-lines source round trip — completes the 4-format source matrix
# ---------------------------------------------------------------------

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


@query("source_json_roundtrip", f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           CAST(SUM({_VMIC_SQL}) AS BIGINT) AS sum_value_micros,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events WHERE event_type IS NOT NULL GROUP BY event_type
""")
def source_json_roundtrip(spark, sf_dir):
    """JSON-lines source leg: events is rewritten once per corpus as
    JSONL with an explicit microsecond timestampFormat (the default
    format truncates to millis — silent precision loss this entry
    exists to rule out), read back under an EXPLICIT schema (no
    inference pass over the data), and profiled per event_type — while
    the ORACLE reads the original PARQUET. Hash equality proves the
    JSONL writer+reader round-trips BIGINT ids, shortest-repr DOUBLE
    values, VARCHAR enums, and microsecond TIMESTAMPs bit-exactly:
    the format-parity guarantee for JSON landing zones. Completes the
    source matrix: CSV (A1), parquet (everywhere), ORC
    (source_orc_roundtrip), JSONL (here)."""
    path = scratch_dir(
        "json_events_",
        lambda d: _events(spark, sf_dir).write.mode("overwrite")
        .option("timestampFormat", _TS_FMT).json(d),
        [f"{sf_dir}/events.parquet"])
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    j = (spark.read.schema(schema)
         .option("timestampFormat", _TS_FMT)
         .json(path))
    return (j.filter(F.col("event_type").isNotNull())
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"),
                 F.sum(_vmic()).cast("long").alias("sum_value_micros"),
                 F.max("event_id").cast("long").alias("max_event_id")))


# ---------------------------------------------------------------------
# Walsh-Hadamard band energy — integer-exact spectral audio features
# ---------------------------------------------------------------------

@query("multimodal_wht_bands", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    s AS (SELECT i, j, ((i*31 + j*7) % 256 - 128) * 256 AS v
          FROM m, range(0, 64) t(j)),
    co AS (
      SELECT i, k,
             CAST(SUM(CASE WHEN bit_count(j & k) % 2 = 1
                           THEN -v ELSE v END) AS BIGINT) AS c
      FROM s, range(0, 64) tk(k) GROUP BY i, k)
    SELECT i AS media_id, CAST(k // 16 AS INTEGER) AS band,
           CAST(SUM(c * c) AS BIGINT) AS energy
    FROM co GROUP BY i, k // 16
""")
def multimodal_wht_bands(spark, sf_dir):
    """Spectral audio features WITHOUT float DSP: the Walsh-Hadamard
    transform is the orthogonal transform whose basis is only +/-1, so
    the 64 coefficients of each clip's PCM16 head are exact integer
    sums and the 4 published band energies (sum of coeff^2 per 16
    natural-order coefficients) value-hash across engines. Executors
    run the O(n log n) integer FWHT butterfly inside the Arrow batch
    (operators/multimodal.py::wht_band_energies); the oracle evaluates
    the O(n^2) DEFINITION H[k,j] = (-1)^popcount(k AND j) — agreement
    proves the fast transform, the way an FFT kernel is validated.
    Parseval (sum c^2 = 64 * sum v^2) is asserted in tests."""
    from .operators.multimodal import (synthesize_wav_media,
                                       wht_band_energies)
    return wht_band_energies(synthesize_wav_media(spark, n=48))


# ---------------------------------------------------------------------
# Hourly activity bitmaps — bitset aggregation for behavioral cohorts
# ---------------------------------------------------------------------

@query("events_hourly_bitmap", """
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(bit_or(CAST(1 AS BIGINT) << hour(ts)) AS BIGINT)
               AS mask,
             COUNT(*) AS n_events
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
    p AS (
      SELECT mask, CAST(bit_count(mask) AS INTEGER) AS active_hours,
             COUNT(*) AS n_user_days,
             CAST(SUM(n_events) AS BIGINT) AS n_events
      FROM b GROUP BY mask)
    SELECT mask, active_hours, n_user_days, n_events,
           CAST(row_number() OVER (ORDER BY n_user_days DESC, mask)
                AS INTEGER) AS rk
    FROM p QUALIFY rk <= 20
""")
def events_hourly_bitmap(spark, sf_dir):
    """Bitset aggregation: each (user, day) folds its active hours into
    a 24-bit mask with bit_or — the roaring-bitmap-style encoding a
    behavioral cohort system keys on — then the corpus's 20 most common
    daily activity FINGERPRINTS are published with their popcounts.
    Two partial+final integer aggregates (user-day, then mask-pattern:
    at most 2^24 groups whatever the corpus) and a TakeOrdered head;
    bit_or and bit_count are JVM-side expressions in whole-stage
    codegen, bit-identical to DuckDB's."""
    e = _events(spark, sf_dir)
    b = (e.filter(F.col("user_id").isNotNull())
         .groupBy("user_id", F.col("ts").cast("date").alias("day"))
         .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), hour(ts)))")
              .alias("mask"),
              F.count(F.lit(1)).alias("n_events")))
    p = (b.groupBy("mask")
         .agg(F.bit_count("mask").cast("int").alias("active_hours"),
              F.count(F.lit(1)).alias("n_user_days"),
              F.sum("n_events").cast("long").alias("n_events")))
    top = p.orderBy(F.col("n_user_days").desc(), "mask").limit(20)
    w = Window.orderBy(F.col("n_user_days").desc(), "mask")
    return top.select("mask", "active_hours", "n_user_days", "n_events",
                      F.row_number().over(w).cast("int").alias("rk"))


# ---------------------------------------------------------------------
# Freshness watermark audit — operational lag per stream
# ---------------------------------------------------------------------

@query("dq_freshness_watermark", """
    WITH g AS (SELECT MAX(ts) AS wm FROM events),
    t AS (SELECT event_type, MAX(ts) AS latest, COUNT(*) AS n_events
          FROM events WHERE event_type IS NOT NULL GROUP BY 1)
    SELECT event_type, latest, n_events,
           CAST((epoch_us(g.wm) - epoch_us(t.latest)) // 60000000
                AS BIGINT) AS lag_minutes,
           CAST(CASE WHEN epoch_us(g.wm) - epoch_us(t.latest)
                          > 3600000000 THEN 1 ELSE 0 END AS INTEGER)
             AS is_stale
    FROM t, g
""")
def dq_freshness_watermark(spark, sf_dir):
    """Pipeline-freshness audit: each event stream's high-water mark
    vs the corpus watermark, with the integer lag in whole minutes and
    a >1h staleness flag — the first dashboard a data-platform on-call
    opens. The watermark is a global 1-row aggregate broadcast across
    the per-type aggregate (a 1-row nested loop is a map, not a
    product); lag arithmetic is exact integer microseconds
    (unix_micros <-> epoch_us), floor-divided to minutes."""
    e = _events(spark, sf_dir)
    g = e.agg(F.max("ts").alias("wm"))
    t = (e.filter(F.col("event_type").isNotNull())
         .groupBy("event_type")
         .agg(F.max("ts").alias("latest"),
              F.count(F.lit(1)).alias("n_events")))
    lag_us = F.unix_micros(F.col("wm")) - F.unix_micros(F.col("latest"))
    return (t.crossJoin(F.broadcast(g))
            .select("event_type", "latest", "n_events",
                    F.expr("(unix_micros(wm) - unix_micros(latest)) "
                           "div 60000000").alias("lag_minutes"),
                    F.when(lag_us > 3600000000, 1).otherwise(0)
                    .cast("int").alias("is_stale")))


# ---------------------------------------------------------------------
# Two-regressor OLS — exact multivariate normal equations via Cramer
# ---------------------------------------------------------------------

@query("stats_ols_two_regressors", """
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x1) AS HUGEINT) AS s1,
             CAST(SUM(x2) AS HUGEINT) AS s2,
             CAST(SUM(x1*x1) AS HUGEINT) AS s11,
             CAST(SUM(x1*x2) AS HUGEINT) AS s12,
             CAST(SUM(x2*x2) AS HUGEINT) AS s22,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x1*y) AS HUGEINT) AS s1y,
             CAST(SUM(x2*y) AS HUGEINT) AS s2y
      FROM b),
    d AS (
      SELECT n,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
               + s2*(s1*s12 - s11*s2) AS det,
             sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
               + s2*(s1y*s12 - s11*s2y) AS det0,
             n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
               + s2*(s1*s2y - s1y*s2) AS det1,
             n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
               + sy*(s1*s12 - s11*s2) AS det2
      FROM s)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(det0 * 1000000 // det AS BIGINT) AS beta0_micros,
           CAST(det1 * 1000000 // det AS BIGINT) AS beta1_micros,
           CAST(det2 * 1000000 // det AS BIGINT) AS beta2_micros
    FROM d
""")
def stats_ols_two_regressors(spark, sf_dir):
    """Multivariate OLS solved EXACTLY at scale: price_cents regressed
    on (quantity, discount_points) by Cramer's rule over the 3x3
    integer normal equations — one distributed pass produces the nine
    exact moment sums (all BIGINT-safe), and the betas are integer
    determinant ratios published in floor-micros. Extends
    events_linear_trend (single regressor) to the multivariate case
    with zero float linear algebra: both engines divide the SAME exact
    integers, and Spark's truncating `div` and DuckDB's HUGEINT `//`
    agree for any determinant sign (both truncate toward zero —
    re-verified this round). Determinant magnitudes stay under 1e35 at
    the tested scales (documented bound ~sf1; beyond that, center and
    rescale the regressors — the standard conditioning fix)."""
    li = _t(spark, sf_dir, "lineitem")
    b = (li.filter(F.col("l_quantity").isNotNull()
                   & F.col("l_discount").isNotNull()
                   & F.col("l_extendedprice").isNotNull())
         .select(F.col("l_quantity").cast("long").alias("x1"),
                 F.round(F.col("l_discount") * 100).cast("long")
                 .alias("x2"),
                 (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("y")))
    s = b.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x1").cast("decimal(38,0)").alias("s1"),
        F.sum("x2").cast("decimal(38,0)").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("decimal(38,0)")
        .alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("decimal(38,0)")
        .alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("decimal(38,0)")
        .alias("s22"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("decimal(38,0)")
        .alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("decimal(38,0)")
        .alias("s2y"))
    d = s.selectExpr(
        "n",
        "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)"
        " + s2*(s1*s12 - s11*s2) AS det",
        "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
        " + s2*(s1y*s12 - s11*s2y) AS det0",
        "n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)"
        " + s2*(s1*s2y - s1y*s2) AS det1",
        "n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)"
        " + sy*(s1*s12 - s11*s2) AS det2")
    return d.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "CAST(det0 * 1000000 div det AS BIGINT) AS beta0_micros",
        "CAST(det1 * 1000000 div det AS BIGINT) AS beta1_micros",
        "CAST(det2 * 1000000 div det AS BIGINT) AS beta2_micros")


# ---------------------------------------------------------------------
# Cosine-similarity histogram — embedding-space geometry calibration
# ---------------------------------------------------------------------

@query("embed_cosine_histogram", """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv
               FROM embeddings
               WHERE vec_id < 8 AND embedding IS NOT NULL
                 AND len(embedding) > 0),
    c AS (SELECT vec_id, embedding FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0),
    pairs AS (
      SELECT list_reduce(list_transform(range(1, len(c.embedding) + 1),
                 i -> CAST(q.qv[i] AS DOUBLE)
                      * CAST(c.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(
                    range(1, len(q.qv) + 1),
                    i -> CAST(q.qv[i] AS DOUBLE)
                         * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(
                    range(1, len(c.embedding) + 1),
                    i -> CAST(c.embedding[i] AS DOUBLE)
                         * CAST(c.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y))) AS sim
      FROM c, q WHERE c.vec_id <> q.qid),
    bk AS (
      SELECT CAST(least(19, greatest(0,
                 CAST(floor((sim + 1.0) * 10.0) AS BIGINT)))
                 AS INTEGER) AS bucket
      FROM pairs WHERE sim IS NOT NULL)
    SELECT bucket, COUNT(*) AS n_pairs
    FROM bk GROUP BY bucket
""")
def embed_cosine_histogram(spark, sf_dir):
    """Embedding-space geometry calibration: the distribution of
    query-to-corpus cosine similarities, bucketed into 20 bins over
    [-1, 1] — the histogram an ANN platform inspects to pick LSH band
    thresholds and IVF probe counts before indexing a new embedder's
    output. 8 query vectors broadcast against the corpus (the corpus
    never shuffles; at 100 TB this is a map + a 20-group count).
    Bucketing floors a similarity that is BIT-IDENTICAL across engines
    (the order-pinned sequential fold, COVERAGE.md class 5), so the
    integer counts value-hash even though sims are floats."""
    from .operators.similarity import cosine, valid_vectors
    emb = valid_vectors(_t(spark, sf_dir, "embeddings"))
    q = (emb.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    pairs = (emb.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
             .select(cosine(F.col("qv"), F.col("embedding"))
                     .alias("sim"))
             .filter(F.col("sim").isNotNull()))
    bucket = (F.least(F.lit(19), F.greatest(F.lit(0),
              F.floor((F.col("sim") + 1.0) * 10.0)))
              .cast("int").alias("bucket"))
    return pairs.select(bucket).groupBy("bucket") \
        .agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------
# Community modularity — does the brand partition explain co-purchase?
# ---------------------------------------------------------------------

@query("graph_community_modularity", """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    be AS (
      SELECT x.p_brand AS ba, y.p_brand AS bb
      FROM e JOIN part x ON x.p_partkey = e.pa
             JOIN part y ON y.p_partkey = e.pb),
    deg AS (
      SELECT p, COUNT(*) AS d
      FROM (SELECT pa AS p FROM e UNION ALL SELECT pb AS p FROM e)
      GROUP BY p),
    bd AS (
      SELECT x.p_brand AS brand, CAST(SUM(d) AS BIGINT) AS dc
      FROM deg JOIN part x ON x.p_partkey = deg.p GROUP BY 1),
    s AS (
      SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM e) AS m,
             (SELECT CAST(SUM(CASE WHEN ba = bb THEN 1 ELSE 0 END)
                          AS HUGEINT) FROM be) AS li,
             (SELECT CAST(SUM(CAST(dc AS HUGEINT) * dc) AS HUGEINT)
              FROM bd) AS sd2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bd) AS n_brands)
    SELECT CAST(m AS BIGINT) AS n_edges,
           CAST(li AS BIGINT) AS internal_edges,
           n_brands,
           CAST((4*m*li - sd2) * 1000000 // (4*m*m) AS BIGINT)
             AS q_micros
    FROM s
""")
def graph_community_modularity(spark, sf_dir):
    """Newman modularity of a GIVEN partition (brand) over the
    co-purchase part graph — the number that says whether customers
    co-buy within brands more than a degree-preserving random graph
    predicts. Exact rational identity: Q = (4m*L_int - sum_c D_c^2) /
    (4m^2), every term an integer (m edges, L_int intra-brand edges,
    D_c brand degree sums), published in floor-micros where both
    engines truncate the SAME integers (Q may be negative; Spark div
    and DuckDB HUGEINT // both truncate toward zero). The edge set is
    basket-bounded (C(basket,2) per order, never corpus-quadratic),
    brands join via broadcast, and the three scalar aggregates
    cross-join as 1-row maps."""
    li_t = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(_t(spark, sf_dir, "part")
                       .select("p_partkey", "p_brand"))
    op = li_t.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pb"))
    # materialize the edge set ONCE: both the intra-brand leg and the
    # degree leg consume it, and recomputing the basket self-join per
    # leg would double the dominant shuffle at scale (the
    # connected-components localCheckpoint pattern; on a cluster the
    # shuffle files themselves play this role)
    e = (a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
         .select("pa", "pb").distinct().localCheckpoint())
    be = (e.join(part.withColumnRenamed("p_partkey", "pa")
                 .withColumnRenamed("p_brand", "ba"), "pa")
          .join(part.withColumnRenamed("p_partkey", "pb")
                .withColumnRenamed("p_brand", "bb"), "pb"))
    m_li = be.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(F.when(F.col("ba") == F.col("bb"), 1).otherwise(0))
        .cast("decimal(38,0)").alias("li"))
    deg = (e.select(F.col("pa").alias("p"))
           .unionAll(e.select(F.col("pb").alias("p")))
           .groupBy("p").agg(F.count(F.lit(1)).alias("d")))
    bd = (deg.join(part.withColumnRenamed("p_partkey", "p"), "p")
          .groupBy("p_brand")
          .agg(F.sum("d").cast("decimal(19,0)").alias("dc")))
    sd2 = bd.agg(
        F.sum(F.col("dc") * F.col("dc")).cast("decimal(38,0)")
        .alias("sd2"),
        F.count(F.lit(1)).cast("long").alias("n_brands"))
    return (m_li.crossJoin(F.broadcast(sd2))
            .selectExpr(
                "CAST(m AS BIGINT) AS n_edges",
                "CAST(li AS BIGINT) AS internal_edges",
                "n_brands",
                "CAST((4*m*li - sd2) * 1000000 div (4*m*m) AS BIGINT)"
                " AS q_micros"))


# ---------------------------------------------------------------------
# Class-balanced sampling — deterministic per-label downsampling
# ---------------------------------------------------------------------

@query("sample_class_balance", """
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings
               WHERE label IS NOT NULL GROUP BY label),
    mn AS (SELECT CAST(MIN(n) AS BIGINT) AS n_min FROM c),
    r AS (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5('bal:' || CAST(vec_id AS VARCHAR)), vec_id)
               AS rk
      FROM embeddings WHERE label IS NOT NULL),
    kept AS (
      SELECT r.label, r.vec_id FROM r, mn WHERE r.rk <= mn.n_min)
    SELECT k.label,
           CAST(c.n AS BIGINT) AS n_total,
           COUNT(*) AS n_kept,
           CAST(SUM(k.vec_id) AS BIGINT) AS kept_id_sum
    FROM kept k JOIN c ON c.label = k.label
    GROUP BY k.label, c.n
""")
def sample_class_balance(spark, sf_dir):
    """Class-balanced downsampling for training-set construction: every
    label keeps exactly n_min = min class size rows, chosen by a
    deterministic content hash (md5 over the id — the data-split
    recipe), so the sample is reproducible across engines and runs.
    Published per label: original size, kept size (constant n_min by
    construction), and the kept-id checksum that pins the SELECTION
    itself, not just its size. The rank window partitions per label
    (parallel); n_min is a 1-row broadcast."""
    emb = (_t(spark, sf_dir, "embeddings")
           .filter(F.col("label").isNotNull()))
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    mn = c.agg(F.min("n").cast("long").alias("n_min"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))),
        "vec_id")
    r = emb.select("label", "vec_id", F.row_number().over(w).alias("rk"))
    kept = r.crossJoin(F.broadcast(mn)).filter(F.col("rk") <= F.col("n_min"))
    return (kept.join(c, "label")
            .groupBy("label", "n")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("vec_id").cast("long").alias("kept_id_sum"))
            .select("label", F.col("n").cast("long").alias("n_total"),
                    "n_kept", "kept_id_sum"))


# ---------------------------------------------------------------------
# RAKE keyword extraction — stopword-delimited phrase scoring
# ---------------------------------------------------------------------

_RAKE_STOP = "('the', 'a')"


@query("text_rake_keywords", f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             t[CAST(i AS INTEGER)] AS term
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
            FROM docs)),
    nonstop AS (
      SELECT doc_id, term, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM tok WHERE term <> '' AND term NOT IN {_RAKE_STOP}),
    phr AS (
      SELECT doc_id, grp, COUNT(*) AS plen FROM nonstop
      GROUP BY doc_id, grp),
    w AS (
      SELECT n.term,
             COUNT(*) AS freq,
             CAST(SUM(p.plen) AS BIGINT) AS degree
      FROM nonstop n JOIN phr p
        ON p.doc_id = n.doc_id AND p.grp = n.grp
      GROUP BY n.term)
    SELECT term, freq, degree,
           CAST(degree * 1000000 // freq AS BIGINT) AS score_micros,
           CAST(row_number() OVER (
               ORDER BY degree * 1000000 // freq DESC, term)
             AS INTEGER) AS rk
    FROM w QUALIFY rk <= 20
""")
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al.): phrases are maximal
    stopword-free token runs (gaps-and-islands over positions inside
    each document — the group key pos - row_number is constant within
    a run), a word's degree sums the lengths of the phrases containing
    it, and score = degree/freq rewards words living in long phrases.
    Published exactly: integer freq/degree and the score in
    floor-micros; the top-20 head is TakeOrderedAndProject. Every
    window partitions per document; the word aggregate shuffles a
    vocabulary-sized key space."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select("doc_id",
                   F.posexplode(F.split("text", " "))
                   .alias("pos0", "term"))
    ns = (tok.filter((F.col("term") != "")
                     & ~F.col("term").isin("the", "a"))
          .withColumn("pos", F.col("pos0").cast("long") + 1))
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    ns = ns.withColumn("grp",
                       F.col("pos") - F.row_number().over(wdoc))
    phr = ns.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("plen"))
    w = (ns.join(phr, ["doc_id", "grp"])
         .groupBy("term")
         .agg(F.count(F.lit(1)).alias("freq"),
              F.sum("plen").cast("long").alias("degree")))
    scored = w.withColumn(
        "score_micros", F.expr("degree * 1000000 div freq"))
    top = scored.orderBy(F.col("score_micros").desc(), "term").limit(20)
    wr = Window.orderBy(F.col("score_micros").desc(), "term")
    return top.select("term", "freq", "degree", "score_micros",
                      F.row_number().over(wr).cast("int").alias("rk"))


# ---------------------------------------------------------------------
# Wald-Wolfowitz runs test — randomness audit of the daily series
# ---------------------------------------------------------------------

@query("stats_runs_test", """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders GROUP BY 1),
    s AS (
      SELECT day, c,
             CASE WHEN c > lag(c) OVER (ORDER BY day) THEN 1
                  WHEN c IS NOT NULL
                       AND lag(c) OVER (ORDER BY day) IS NOT NULL
                  THEN 0 END AS up
      FROM d),
    f AS (SELECT day, up,
                 lag(up) OVER (ORDER BY day) AS prev_up
          FROM s WHERE up IS NOT NULL),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_steps,
             CAST(SUM(up) AS BIGINT) AS n_up,
             CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_down,
             CAST(1 + SUM(CASE WHEN prev_up IS NOT NULL
                                    AND up <> prev_up
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM f)
    SELECT n_steps, n_up, n_down, n_runs,
           CAST(1000000 + 2000000 * n_up * n_down // n_steps AS BIGINT)
             AS expected_runs_micros
    FROM agg
""")
def stats_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs audit of the daily order-count series: code
    each day-over-day step up (1) or down/flat (0), count the maximal
    same-direction runs, and publish the exact integer statistic next
    to its null expectation E[R] = 1 + 2*n_up*n_down/n in floor-micros
    — a series with far fewer runs than expected is trending, far more
    is oscillating. The lag/compare windows run over the per-DAY
    aggregate (O(days) rows — time-scaled, not data-scaled; the same
    bounded class as events_user_growth), after a partial+final count
    collapses the corpus."""
    o = _t(spark, sf_dir, "orders")
    d = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
         .agg(F.count(F.lit(1)).alias("c")))
    wd = Window.orderBy("day")
    s = d.withColumn("prev_c", F.lag("c").over(wd))
    s = (s.filter(F.col("prev_c").isNotNull())
         .withColumn("up", F.when(F.col("c") > F.col("prev_c"), 1)
                     .otherwise(0)))
    f = s.withColumn("prev_up", F.lag("up").over(Window.orderBy("day")))
    agg = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum("up").cast("long").alias("n_up"),
        (F.count(F.lit(1)) - F.sum("up")).cast("long").alias("n_down"),
        (F.lit(1) + F.sum(F.when(F.col("prev_up").isNotNull()
                                 & (F.col("up") != F.col("prev_up")),
                                 1).otherwise(0))).cast("long")
        .alias("n_runs"))
    return agg.selectExpr(
        "n_steps", "n_up", "n_down", "n_runs",
        "CAST(1000000 + 2000000 * n_up * n_down div n_steps AS BIGINT)"
        " AS expected_runs_micros")


# ---------------------------------------------------------------------
# Smoothed target encoding — the ML feature transform, exact rational
# ---------------------------------------------------------------------

@query("feature_target_encode", """
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IS NOT NULL),
    g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS gn,
                 CAST(SUM(cents) AS HUGEINT) AS gsum FROM j),
    s AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM j GROUP BY seg)
    SELECT s.seg, s.n, s.sum_cents,
           CAST((CAST(s.sum_cents AS HUGEINT) * g.gn + 20 * g.gsum)
                * 1000000
                // (g.gn * (CAST(s.n AS HUGEINT) + 20)) AS BIGINT)
             AS enc_microcents
    FROM s, g
""")
def feature_target_encode(spark, sf_dir):
    """Smoothed target encoding — the categorical->numeric feature
    transform gradient-boosting pipelines lean on: each segment's
    encoding is the Bayesian-smoothed target mean
    (sum + m*prior)/(n + m) with m=20, computed as ONE exact integer
    rational (sum*gn + m*gsum) / (gn*(n + m)) so no float mean is ever
    materialized, published in floor-micro-cents. The global prior is
    a 1-row broadcast; the category aggregate is a partial+final sum
    over the (tiny) segment vocabulary; the fact-dim join broadcasts
    the customer dim at driver scales and shuffles on the key beyond."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isNotNull())
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .select(F.col("c_mktsegment").alias("seg"),
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("cents")))
    g = j.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("gn"),
              F.sum("cents").cast("decimal(38,0)").alias("gsum"))
    s = j.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"))
    return (s.crossJoin(F.broadcast(g))
            .selectExpr(
                "seg", "n", "sum_cents",
                "CAST((CAST(sum_cents AS DECIMAL(38,0)) * gn"
                " + 20 * gsum) * 1000000"
                " div (gn * (CAST(n AS DECIMAL(38,0)) + 20))"
                " AS BIGINT) AS enc_microcents"))


# ---------------------------------------------------------------------
# Voice-activity detection — energy-gated segmentation of PCM clips
# ---------------------------------------------------------------------

_VAD_THRESH = 6_000_000_000


@query("multimodal_audio_vad", f"""
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    s AS (SELECT i, j, ((i*31 + j*7) % 256 - 128) * 256 AS v
          FROM m, range(0, 112) t(j) WHERE j < 64 + i),
    fe AS (SELECT i, j // 16 AS f, CAST(SUM(v * v) AS BIGINT) AS e
           FROM s GROUP BY i, j // 16),
    act AS (SELECT i, f FROM fe WHERE e > {_VAD_THRESH}),
    isl AS (
      SELECT i, f,
             f - row_number() OVER (PARTITION BY i ORDER BY f) AS grp
      FROM act),
    seg AS (SELECT i, grp, COUNT(*) AS seg_len
            FROM isl GROUP BY i, grp),
    tot AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_frames FROM fe
            GROUP BY i)
    SELECT t.i AS media_id, t.n_frames,
           CAST(COALESCE(SUM(seg.seg_len), 0) AS BIGINT)
             AS active_frames,
           CAST(COUNT(seg.grp) AS BIGINT) AS n_segments,
           CAST(COALESCE(MAX(seg.seg_len), 0) AS BIGINT)
             AS longest_segment,
           CAST(COALESCE(SUM(seg.seg_len), 0) * 1000 // t.n_frames
                AS BIGINT) AS active_permille
    FROM tot t LEFT JOIN seg ON seg.i = t.i
    GROUP BY t.i, t.n_frames
""")
def multimodal_audio_vad(spark, sf_dir):
    """Energy-gated voice-activity detection — the segmentation pass an
    audio curation pipeline runs before transcription: per clip, frames
    whose exact integer energy clears the gate are grouped into maximal
    ACTIVE SEGMENTS (gaps-and-islands over frame indexes, per-clip
    windows), publishing segment count, longest run, and the active
    ratio in floor-permille. Decode + frame energy reuse the WAV
    operator (operators/multimodal.py::wav_vad_segments); the oracle
    recomputes segmentation in closed form from the synthesis formula.
    Everything is integer; the gate is a fixed literal on both sides."""
    from .operators.multimodal import synthesize_wav_media, wav_vad_segments
    return wav_vad_segments(synthesize_wav_media(spark, n=48),
                            threshold=_VAD_THRESH)


# ---------------------------------------------------------------------
# A/B sample-ratio-mismatch audit — experimentation-platform guardrail
# ---------------------------------------------------------------------

@query("stats_ab_srm", """
    WITH u AS (SELECT DISTINCT user_id FROM events
               WHERE user_id IS NOT NULL),
    a AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('ab:v1:' ||
                        CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
                       = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM u),
    c AS (SELECT arm, COUNT(*) AS n FROM a GROUP BY arm),
    w AS (SELECT
            CAST(SUM(CASE WHEN arm = 'A' THEN n ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(SUM(CASE WHEN arm = 'B' THEN n ELSE 0 END) AS BIGINT)
              AS n_b
          FROM c)
    SELECT n_a, n_b,
           CAST(abs(n_a - n_b) * 1000 // (n_a + n_b) AS BIGINT)
             AS imbalance_permille,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
                AS BIGINT) AS chi2_micros
    FROM w
""")
def stats_ab_srm(spark, sf_dir):
    """Sample-ratio-mismatch guardrail: users deterministically bucket
    into arms A/B by a salted hash (the data_split_assign recipe), and
    the audit publishes the arm counts, the absolute imbalance in
    floor-permille, and the exact 2-arm chi-square numerator
    (n_a - n_b)^2 / n in floor-micros — the first alarm an
    experimentation platform fires when assignment is broken. One
    distinct + one 2-group aggregate; every division is BIGINT floor
    division of exact integers."""
    e = _events(spark, sf_dir)
    u = (e.filter(F.col("user_id").isNotNull())
         .select("user_id").distinct())
    arm = F.when(_h32("ab:v1:", F.col("user_id")) % 2 == 0, "A") \
        .otherwise("B")
    c = u.select(arm.alias("arm")).groupBy("arm") \
        .agg(F.count(F.lit(1)).alias("n"))
    w = c.agg(
        F.sum(F.when(F.col("arm") == "A", F.col("n")).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("n")).otherwise(0))
        .cast("long").alias("n_b"))
    return w.selectExpr(
        "n_a", "n_b",
        "CAST(abs(n_a - n_b) * 1000 div (n_a + n_b) AS BIGINT)"
        " AS imbalance_permille",
        "CAST((n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)"
        " AS BIGINT) AS chi2_micros")


# ---------------------------------------------------------------------
# GIF decode — variable-width LZW, the algorithmic image codec
# ---------------------------------------------------------------------

@query("multimodal_gif_decode", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h FROM m),
    px AS (SELECT i, w, h, (i*7 + x*3 + y*5) % 256 AS v
           FROM dims, range(0, 16) tx(x), range(0, 8) ty(y)
           WHERE x < w AND y < h)
    SELECT i AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_lum,
           CAST(MAX(v) AS INTEGER) AS peak_lum
    FROM px GROUP BY i, w, h
""")
def multimodal_gif_decode(spark, sf_dir):
    """REAL GIF path — the sixth genuine codec (BMP, PNG, JPEG, WAV,
    AVI, now GIF): payloads are true GIF89a files (screen descriptor,
    256-gray global palette, image descriptor, LZW sub-blocks,
    trailer) built and parsed with stdlib struct alone, including the
    variable-width LZW coder whose width schedule (bump when the next
    assignable code stops fitting, checked after each emitted code —
    the GIFLIB ordering) is the part every half-baked GIF reader gets
    wrong. Decoded luminance stats carry the BMP synthesis formula's
    closed-form oracle; the encode/decode pair is round-trip
    torture-tested across width boundaries and the KwKwK case. Codec:
    operators/multimodal.py (encode_gif_gray / decode_gif_features)."""
    from .operators.multimodal import (decode_gif_features,
                                       synthesize_gif_media)
    return decode_gif_features(synthesize_gif_media(spark, n=48))


# ---------------------------------------------------------------------
# A/B uplift readout — the outcome companion to the SRM guardrail
# ---------------------------------------------------------------------

@query("events_uplift_by_arm", f"""
    WITH a AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('ab:v1:' ||
                        CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
                       = 0
                  THEN 'A' ELSE 'B' END AS arm,
             {_VMIC_SQL} AS vmic
      FROM events WHERE user_id IS NOT NULL),
    g AS (SELECT arm, CAST(COUNT(vmic) AS BIGINT) AS n,
                 CAST(SUM(vmic) AS BIGINT) AS s
          FROM a GROUP BY arm),
    w AS (SELECT
            CAST(MAX(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
            CAST(MAX(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b,
            CAST(MAX(CASE WHEN arm = 'A' THEN s END) AS BIGINT) AS s_a,
            CAST(MAX(CASE WHEN arm = 'B' THEN s END) AS BIGINT) AS s_b
          FROM g)
    SELECT n_a, n_b,
           CAST(s_a // n_a AS BIGINT) AS mean_a_micros,
           CAST(s_b // n_b AS BIGINT) AS mean_b_micros,
           CAST(s_b // n_b - s_a // n_a AS BIGINT)
             AS uplift_micros,
           CAST((s_b // n_b - s_a // n_a) * 1000
                // (CASE WHEN s_a // n_a > 0 THEN s_a // n_a END)
                AS BIGINT) AS uplift_permille
    FROM w
""")
def events_uplift_by_arm(spark, sf_dir):
    """The uplift readout that pairs with stats_ab_srm: per-event value
    means by experiment arm (same salted hash assignment), the absolute
    uplift, and the relative uplift in permille — all floor divisions
    of exact integer micro sums, so the readout value-hashes without a
    float mean ever existing. Both arms aggregate in ONE partial+final
    pass (no per-arm scans); the 2-row pivot is a scalar map."""
    e = _events(spark, sf_dir)
    a = (e.filter(F.col("user_id").isNotNull())
         .select(F.when(_h32("ab:v1:", F.col("user_id")) % 2 == 0, "A")
                 .otherwise("B").alias("arm"),
                 _vmic().alias("vmic")))
    g = a.groupBy("arm").agg(
        F.count("vmic").cast("long").alias("n"),
        F.sum("vmic").cast("long").alias("s"))
    w = g.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).cast("long")
        .alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).cast("long")
        .alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("s"))).cast("long")
        .alias("s_a"),
        F.max(F.when(F.col("arm") == "B", F.col("s"))).cast("long")
        .alias("s_b"))
    return w.selectExpr(
        "n_a", "n_b",
        "CAST(s_a div n_a AS BIGINT) AS mean_a_micros",
        "CAST(s_b div n_b AS BIGINT) AS mean_b_micros",
        "CAST(s_b div n_b - s_a div n_a AS BIGINT) AS uplift_micros",
        "CAST((s_b div n_b - s_a div n_a) * 1000"
        " div (CASE WHEN s_a div n_a > 0 THEN s_a div n_a END)"
        " AS BIGINT) AS uplift_permille")


# ---------------------------------------------------------------------
# Primary-key uniqueness audit — the PK twin of dq_referential_health
# ---------------------------------------------------------------------

@query("dq_uniqueness_audit", """
    SELECT 'orders.o_orderkey' AS key_col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
             AS n_dupes,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls
    FROM orders
    UNION ALL
    SELECT 'customer.c_custkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'part.p_partkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(p_partkey) AS BIGINT)
    FROM part
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber)
                AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 100
                                 + l_linenumber) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_orderkey * 100 + l_linenumber)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events.event_id',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT),
           CAST(COUNT(*) - COUNT(event_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents.doc_id',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT doc_id) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT),
           CAST(COUNT(*) - COUNT(doc_id) AS BIGINT)
    FROM documents
""")
def dq_uniqueness_audit(spark, sf_dir):
    """Primary-key uniqueness audit across the lake — the PK twin of
    dq_referential_health's FK orphan checks: per declared key, row
    count vs distinct count (duplicate count) and null-key count. The
    lineitem composite key folds into one BIGINT (l_linenumber < 100
    by TPC-H construction) so COUNT(DISTINCT) runs single-column on
    both engines. Six independent scan+aggregate legs, each a
    partial+final count-distinct that AQE runs in parallel; unioned
    tiny results. On the driver's synthetic testdata this audit finds
    REAL dirt — lineitem does not enforce its composite key (1401
    duplicate pairs at sf0.001) — which is exactly what it exists to
    surface (pinned in tests)."""

    def leg(tbl, label, key_expr):
        t = _t(spark, sf_dir, tbl)
        return t.select(F.expr(key_expr).alias("k")).agg(
            F.lit(label).alias("key_col"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("k").cast("long").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("k")).cast("long")
            .alias("n_dupes"),
            (F.count(F.lit(1)) - F.count("k")).cast("long")
            .alias("n_nulls"))

    legs = [
        leg("orders", "orders.o_orderkey", "o_orderkey"),
        leg("customer", "customer.c_custkey", "c_custkey"),
        leg("part", "part.p_partkey", "p_partkey"),
        leg("lineitem", "lineitem.(l_orderkey,l_linenumber)",
            "l_orderkey * 100 + l_linenumber"),
        leg("events", "events.event_id", "event_id"),
        leg("documents", "documents.doc_id", "doc_id"),
    ]
    out = legs[0]
    for x in legs[1:]:
        out = out.unionAll(x)
    return out


# ---------------------------------------------------------------------
# SCD2 point-in-time lookup — the read-side twin of the history build
# ---------------------------------------------------------------------

@query("scd2_as_of_lookup", """
    WITH s AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders),
    g AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             SUM(CASE WHEN prev IS NULL OR prev <> o_orderstatus
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM s),
    hist AS (
      SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
             o_orderstatus AS status,
             CAST(MIN(o_orderdate) AS DATE) AS valid_from
      FROM g GROUP BY o_custkey, version, o_orderstatus),
    r AS (
      SELECT custkey, version, status, valid_from,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY valid_from DESC, version DESC)
               AS rn
      FROM hist WHERE valid_from <= DATE '1996-06-15')
    SELECT custkey, version AS as_of_version, status, valid_from
    FROM r WHERE rn = 1
""")
def scd2_as_of_lookup(spark, sf_dir):
    """Point-in-time (time-travel) read over the SCD2 history that
    scd2_status_history builds: for AS OF 1996-06-15, each customer's
    then-current status version — the lookup every
    reproducible-training-snapshot and audit query runs against a
    type-2 dimension, and the operation that proves the history's
    validity intervals actually support temporal queries (no row with
    a later valid_from may win). Same single (custkey) exchange as the
    history build — the as-of filter and rank window reuse it; at
    100 TB the cutoff filter prunes versions before the rank ever
    materializes."""
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                    "o_orderkey")
    chg = F.when(
        F.lag("o_orderstatus").over(w_seq).isNull()
        | (F.lag("o_orderstatus").over(w_seq) != F.col("o_orderstatus")),
        1).otherwise(0)
    hist = (_t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderstatus", "o_orderdate",
                    "o_orderkey")
            .withColumn("version",
                        F.sum(chg).over(
                            w_seq.rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)))
            .groupBy(F.col("o_custkey").alias("custkey"),
                     F.col("version").cast("long").alias("version"),
                     F.col("o_orderstatus").alias("status"))
            .agg(F.to_date(F.min("o_orderdate")).alias("valid_from")))
    w_asof = Window.partitionBy("custkey").orderBy(
        F.col("valid_from").desc(), F.col("version").desc())
    return (hist.filter(F.col("valid_from") <= F.lit("1996-06-15")
                        .cast("date"))
            .withColumn("rn", F.row_number().over(w_asof))
            .filter(F.col("rn") == 1)
            .select("custkey", F.col("version").alias("as_of_version"),
                    "status", "valid_from"))


# ---------------------------------------------------------------------
# Language-ID confusion matrix — model-eval harness over labeled docs
# ---------------------------------------------------------------------

_LID_HITS_SQL = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    hits AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, x -> x IN ('der','die','das','und',
             'ist','ein','zu'))) AS INTEGER) AS h_de,
        CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to',
             'in','is'))) AS INTEGER) AS h_en,
        CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','que',
             'en','un'))) AS INTEGER) AS h_es,
        CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','un',
             'est','que'))) AS INTEGER) AS h_fr
      FROM t),
    pred AS (
      SELECT doc_id,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) > 0 THEN
               CASE greatest(h_de, h_en, h_es, h_fr)
                 WHEN h_fr THEN 'fr' WHEN h_es THEN 'es'
                 WHEN h_en THEN 'en' WHEN h_de THEN 'de' END
             ELSE 'und' END AS predicted_lang
      FROM hits)
"""


@query("text_langid_confusion", f"""
    {_LID_HITS_SQL},
    j AS (
      SELECT d.lang, p.predicted_lang
      FROM documents d JOIN pred p ON p.doc_id = d.doc_id
      WHERE d.lang IS NOT NULL),
    c AS (SELECT lang, predicted_lang, COUNT(*) AS n
          FROM j GROUP BY lang, predicted_lang),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
            FROM c GROUP BY lang)
    SELECT c.lang, c.predicted_lang, c.n,
           CAST(c.n * 1000 // t.n_lang AS BIGINT) AS share_permille,
           CAST(CASE WHEN c.lang = c.predicted_lang THEN 1 ELSE 0 END
                AS INTEGER) AS is_correct
    FROM c JOIN tot t ON t.lang = c.lang
""")
def text_langid_confusion(spark, sf_dir):
    """Model evaluation as a first-class pipeline op: the confusion
    matrix of the stopword-vote language classifier against the
    corpus's ground-truth labels, with per-cell share in
    floor-permille — the table that tells a curation team WHERE the
    cheap classifier fails before they pay for a better one (here: zh
    has no stopword list, so its row must land in 'und'/misfires —
    pinned in tests). Predictions reuse operators/text.py::language_id
    verbatim; the matrix is a (lang x predicted) aggregate joined to
    per-lang totals (broadcast — |langs| rows)."""
    from .operators import text as text_ops
    d = _t(spark, sf_dir, "documents")
    pred = text_ops.language_id(d).select("doc_id", "predicted_lang")
    j = (d.filter(F.col("lang").isNotNull())
         .select("doc_id", "lang").join(pred, "doc_id"))
    c = (j.groupBy("lang", "predicted_lang")
         .agg(F.count(F.lit(1)).alias("n")))
    tot = c.groupBy("lang").agg(F.sum("n").cast("long").alias("n_lang"))
    return (c.join(F.broadcast(tot), "lang")
            .select("lang", "predicted_lang", "n",
                    F.expr("CAST(n * 1000 div n_lang AS BIGINT)")
                    .alias("share_permille"),
                    F.when(F.col("lang") == F.col("predicted_lang"), 1)
                    .otherwise(0).cast("int").alias("is_correct")))


# ---------------------------------------------------------------------
# IVF recall-vs-nprobe tuning curve — how much probing buys recall
# ---------------------------------------------------------------------

def _ivf_recall_leg_sql(np_: int) -> str:
    from .catalog_ext import _COSINE_PAIR_SQL, _IVF_ORACLE_SQL
    ivf = _IVF_ORACLE_SQL.replace("rn <= 4", f"rn <= {np_}")
    return f"""
    SELECT CAST({np_} AS INTEGER) AS nprobe, b.qid,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.vec_id) * 100 AS BIGINT) AS recall_permille
    FROM ({_COSINE_PAIR_SQL}) b
    LEFT JOIN ({ivf}) a ON a.qid = b.qid AND a.vec_id = b.vec_id
    GROUP BY b.qid"""


def _ann_recall_vs_nprobe(spark, sf_dir):
    """The IVF tuning curve: recall@10 against brute-force ground truth
    at nprobe = 1, 2, 4 — the table an ANN platform reads to pick its
    latency/recall operating point (each probed cell costs candidates;
    the curve says what it buys). Reuses the verified sim_topk_ann_ivf
    pipeline (seed codebook, refine_steps=0) at three probe widths and
    the ann_recall_at_k join shape; recall is published as exact
    integer permille (n_hits*100 for k=10). Recall must be
    NON-DECREASING in nprobe per query (probing more cells only adds
    candidates) — pinned in tests. The oracle composes the two
    entries\' own oracle texts per leg, with the probe rank bound
    rewritten per nprobe."""
    from .operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    brute = (similarity.topk_bruteforce(emb, queries, k=10)
             .select("qid", "vec_id"))
    legs = []
    for np_ in (1, 2, 4):
        ann = (similarity.topk_ann_ivf(emb, queries, dim=64, k=10,
                                       n_centroids=16, nprobe=np_,
                                       refine_steps=0)
               .select(F.col("qid").alias("a_qid"),
                       F.col("vec_id").alias("a_vid")))
        legs.append(
            brute.join(ann, (brute.qid == ann.a_qid)
                       & (brute.vec_id == ann.a_vid), "left")
            .groupBy("qid")
            .agg(F.count("a_vid").cast("long").alias("n_hits"))
            .select(F.lit(np_).cast("int").alias("nprobe"), "qid",
                    "n_hits",
                    (F.col("n_hits") * 100).cast("long")
                    .alias("recall_permille")))
    out = legs[0]
    for x in legs[1:]:
        out = out.unionAll(x)
    return out


def _register_ann_recall_vs_nprobe():
    oracle = " UNION ALL ".join(_ivf_recall_leg_sql(n) for n in (1, 2, 4))
    query("ann_recall_vs_nprobe", oracle)(_ann_recall_vs_nprobe)


_register_ann_recall_vs_nprobe()


# ---------------------------------------------------------------------
# Embedding class-separability margin — do vectors cluster by label?
# ---------------------------------------------------------------------

_MARGIN_FOLD = """list_reduce(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE)
                      * CAST(b.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(
                    range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE)
                         * CAST(a.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(
                    range(1, len(b.embedding) + 1),
                    i -> CAST(b.embedding[i] AS DOUBLE)
                         * CAST(b.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y)))"""


@query("embed_label_margin", f"""
    WITH sub AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id < 200 AND label IS NOT NULL
        AND embedding IS NOT NULL AND len(embedding) > 0),
    pairs AS (
      SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS intra,
             CAST(floor({_MARGIN_FOLD} * 1000000.0) AS BIGINT)
               AS sim_micros
      FROM sub a, sub b WHERE a.vec_id < b.vec_id),
    s AS (
      SELECT CAST(SUM(intra) AS BIGINT) AS n_intra,
             CAST(COUNT(*) - SUM(intra) AS BIGINT) AS n_inter,
             CAST(SUM(CASE WHEN intra = 1 THEN sim_micros ELSE 0 END)
                  AS BIGINT) AS s_intra,
             CAST(SUM(CASE WHEN intra = 0 THEN sim_micros ELSE 0 END)
                  AS BIGINT) AS s_inter
      FROM pairs)
    SELECT n_intra, n_inter,
           CAST(s_intra // n_intra AS BIGINT) AS intra_mean_micros,
           CAST(s_inter // n_inter AS BIGINT) AS inter_mean_micros,
           CAST(s_intra // n_intra - s_inter // n_inter AS BIGINT)
             AS margin_micros
    FROM s
""")
def embed_label_margin(spark, sf_dir):
    """Class-separability audit: mean intra-label vs inter-label cosine
    over a bounded pair sample — the one number that says whether an
    embedder's geometry actually reflects the labels before anyone
    trains a probe on it. Sims are the order-pinned fold (bit-identical
    across engines), floored to micros PER PAIR and summed as int64, so
    the means are exact floor divisions; margin > 0 means the space
    clusters by label. The all-pairs leg is a labeled bounded baseline
    (vec_id < 200, the sim_cosine_near_dups cap); the production-scale
    path samples pairs per label instead."""
    from .operators.similarity import cosine
    sub = (_t(spark, sf_dir, "embeddings")
           .filter((F.col("vec_id") < 200) & F.col("label").isNotNull()
                   & F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0))
           .select("vec_id", "embedding", "label"))
    a = sub.select(F.col("vec_id").alias("ida"),
                   F.col("embedding").alias("va"),
                   F.col("label").alias("la"))
    b = sub.select(F.col("vec_id").alias("idb"),
                   F.col("embedding").alias("vb"),
                   F.col("label").alias("lb"))
    pairs = (a.join(b, F.col("ida") < F.col("idb"))
             .select(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
                     .alias("intra"),
                     F.floor(cosine(F.col("va"), F.col("vb"))
                             * 1000000.0).cast("long")
                     .alias("sim_micros")))
    s = pairs.agg(
        F.sum("intra").cast("long").alias("n_intra"),
        (F.count(F.lit(1)) - F.sum("intra")).cast("long")
        .alias("n_inter"),
        F.sum(F.when(F.col("intra") == 1, F.col("sim_micros"))
              .otherwise(0)).cast("long").alias("s_intra"),
        F.sum(F.when(F.col("intra") == 0, F.col("sim_micros"))
              .otherwise(0)).cast("long").alias("s_inter"))
    return s.selectExpr(
        "n_intra", "n_inter",
        "CAST(s_intra div n_intra AS BIGINT) AS intra_mean_micros",
        "CAST(s_inter div n_inter AS BIGINT) AS inter_mean_micros",
        "CAST(s_intra div n_intra - s_inter div n_inter AS BIGINT)"
        " AS margin_micros")


# ---------------------------------------------------------------------
# Schema-contract audit — data contracts enforced from parquet footers
# ---------------------------------------------------------------------

# the declared contract: (table, column, expected type family)
_CONTRACT = [
    ("orders", "o_orderkey", "integer"),
    ("orders", "o_custkey", "integer"),
    ("orders", "o_orderstatus", "string"),
    ("orders", "o_totalprice", "float"),
    ("orders", "o_orderdate", "timestamp"),
    ("orders", "o_orderpriority", "string"),
    ("customer", "c_custkey", "integer"),
    ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "integer"),
    ("customer", "c_acctbal", "float"),
    ("customer", "c_mktsegment", "string"),
    ("events", "event_id", "integer"),
    ("events", "ts", "timestamp"),
    ("events", "user_id", "integer"),
    ("events", "event_type", "string"),
    ("events", "value", "float"),
    ("events", "props", "string"),
    ("documents", "doc_id", "integer"),
    ("documents", "text", "string"),
    ("documents", "lang", "string"),
    ("documents", "source", "string"),
    ("documents", "n_chars", "integer"),
    ("embeddings", "vec_id", "integer"),
    ("embeddings", "embedding", "array<float>"),
    ("embeddings", "label", "integer"),
]

_CONTRACT_TABLES = ("orders", "customer", "events", "documents",
                    "embeddings")

_DUCK_FAMILY = """CASE
      WHEN column_type IN ('TINYINT','SMALLINT','INTEGER','BIGINT')
        THEN 'integer'
      WHEN column_type IN ('FLOAT','DOUBLE') THEN 'float'
      WHEN column_type = 'VARCHAR' THEN 'string'
      WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
      WHEN column_type = 'DATE' THEN 'date'
      WHEN column_type IN ('FLOAT[]','REAL[]') THEN 'array<float>'
      ELSE lower(column_type) END"""


def _contract_oracle() -> str:
    vals = ",\n      ".join(
        f"('{t}', '{c}', '{f}')" for t, c, f in _CONTRACT)
    actual = "\n      UNION ALL\n      ".join(
        f"SELECT '{t}' AS tbl, column_name AS col, {_DUCK_FAMILY} "
        f"AS actual_family FROM (DESCRIBE SELECT * FROM {t})"
        for t in _CONTRACT_TABLES)
    return f"""
    WITH expected(tbl, col, expected_family) AS (
      VALUES {vals}),
    actual AS (
      {actual})
    SELECT COALESCE(e.tbl, a.tbl) AS tbl,
           COALESCE(e.col, a.col) AS col,
           e.expected_family, a.actual_family,
           CASE WHEN e.col IS NULL THEN 'unexpected_column'
                WHEN a.col IS NULL THEN 'missing_column'
                WHEN e.expected_family = a.actual_family THEN 'ok'
                ELSE 'type_mismatch' END AS status
    FROM expected e
    FULL OUTER JOIN actual a ON a.tbl = e.tbl AND a.col = e.col
"""


def _spark_family(dt) -> str:
    from pyspark.sql import types as T
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType)):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType,
                                                  T.FloatType):
        return "array<float>"
    return dt.simpleString()


def _dq_schema_contract(spark, sf_dir):
    """Data-contract enforcement from parquet footers alone: the
    declared (table, column, type-family) contract is full-outer-joined
    against the ACTUAL schemas read from the lake, classifying every
    cell as ok / type_mismatch / missing_column / unexpected_column —
    the check a 100 TB ingestion gate runs before any job is allowed to
    see new data, and it costs ZERO data scan (schema comes from
    footers/catalog). The family normalization is mirrored literally on
    the DuckDB side (DESCRIBE over the same parquet), so the audit
    itself is oracle-verified."""
    actual = []
    for t in _CONTRACT_TABLES:
        for f in _t(spark, sf_dir, t).schema.fields:
            actual.append((t, f.name, _spark_family(f.dataType)))
    a = local_frame(
        spark, actual, "tbl string, col string, actual_family string")
    e = local_frame(
        spark, list(_CONTRACT),
        "tbl string, col string, expected_family string")
    j = e.join(a, ["tbl", "col"], "full_outer")
    status = (F.when(F.col("expected_family").isNull(),
                     "unexpected_column")
              .when(F.col("actual_family").isNull(), "missing_column")
              .when(F.col("expected_family") == F.col("actual_family"),
                    "ok")
              .otherwise("type_mismatch"))
    return j.select("tbl", "col", "expected_family", "actual_family",
                    status.alias("status"))


query("dq_schema_contract", _contract_oracle())(_dq_schema_contract)


# ---------------------------------------------------------------------
# Herfindahl-Hirschman market concentration — per-nation supplier HHI
# ---------------------------------------------------------------------

@query("orders_hhi_by_nation", """
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey),
    agg AS (
      SELECT nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
               AS sum_sq
      FROM rev GROUP BY nationkey)
    SELECT nationkey, n_suppliers, total_cents,
           CAST(sum_sq * 1000000
                // (CAST(total_cents AS HUGEINT) * total_cents)
                AS BIGINT) AS hhi_micros
    FROM agg
""")
def orders_hhi_by_nation(spark, sf_dir):
    """Herfindahl-Hirschman market concentration per supplier nation:
    HHI = sum of squared revenue shares, the antitrust-grade
    concentration index (1e6 micros = monopoly; 1e6/n = perfectly
    even). Computed as ONE exact rational sum(x_i^2)/T^2 — no float
    share is ever materialized: per-supplier exact cents, squares
    summed in DECIMAL(38,0)/HUGEINT, one floor division at the end.
    Two partial+final aggregates (supplier, then nation) behind a
    broadcast dim join; complements orders_revenue_concentration
    (top-decile share) and stats_gini_lorenz (rank identity) with the
    squared-share lens."""
    li = _t(spark, sf_dir, "lineitem")
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    rev = (li.join(s, li.l_suppkey == s.s_suppkey)
           .groupBy(F.col("s_nationkey").alias("nationkey"),
                    "l_suppkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                      * 100).cast("long").alias("cents")))
    agg = (rev.groupBy("nationkey")
           .agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"),
                F.sum("cents").cast("long").alias("total_cents"),
                F.sum(F.col("cents").cast("decimal(19,0)")
                      * F.col("cents").cast("decimal(19,0)"))
                .cast("decimal(38,0)").alias("sum_sq")))
    return agg.selectExpr(
        "nationkey", "n_suppliers", "total_cents",
        "CAST(sum_sq * 1000000 div (CAST(total_cents AS DECIMAL(19,0))"
        " * CAST(total_cents AS DECIMAL(19,0))) AS BIGINT)"
        " AS hhi_micros")


# ---------------------------------------------------------------------
# LSH banding S-curve — observed collision rate per Jaccard bin
# ---------------------------------------------------------------------

@query("dedup_lsh_scurve", """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id < 120 AND text IS NOT NULL),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE [] END AS shingles
      FROM toks),
    ne AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    ex (doc_id, s) AS (SELECT doc_id, unnest(shingles) FROM ne),
    sig AS (
      SELECT doc_id,
             min((1000000007 * x + 12345) % 2147483647) AS h0,
             min((998244353 * x + 67891) % 2147483647) AS h1,
             min((754974721 * x + 24680) % 2147483647) AS h2,
             min((469762049 * x + 13579) % 2147483647) AS h3,
             min((167772161 * x + 98765) % 2147483647) AS h4,
             min((595591169 * x + 55555) % 2147483647) AS h5,
             min((645922817 * x + 31415) % 2147483647) AS h6,
             min((897581057 * x + 27182) % 2147483647) AS h7
      FROM (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS x FROM ex) GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS inter,
             CAST(len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))
                  AS BIGINT) AS uni
      FROM ne a JOIN ne b ON a.doc_id < b.doc_id),
    coll AS (
      SELECT p.inter, p.uni,
             CASE WHEN (x.h0 = y.h0 AND x.h1 = y.h1)
                    OR (x.h2 = y.h2 AND x.h3 = y.h3)
                    OR (x.h4 = y.h4 AND x.h5 = y.h5)
                    OR (x.h6 = y.h6 AND x.h7 = y.h7)
                  THEN 1 ELSE 0 END AS collided
      FROM pairs p JOIN sig x ON x.doc_id = p.id_a
                   JOIN sig y ON y.doc_id = p.id_b)
    SELECT CAST(least(9, inter * 10 // uni) AS INTEGER) AS jaccard_bin,
           COUNT(*) AS n_pairs,
           CAST(SUM(collided) AS BIGINT) AS n_collided,
           CAST(SUM(collided) * 1000 // COUNT(*) AS BIGINT)
             AS collide_permille
    FROM coll GROUP BY 1
""")
def dedup_lsh_scurve(spark, sf_dir):
    """The empirical LSH banding S-curve: for every document pair in a
    bounded sample, the exact 3-gram Jaccard bin vs whether the 4-band
    x 2-row minhash signature actually COLLIDES — the observed form of
    the 1-(1-s^r)^b curve every banding configuration is tuned by,
    with no floats (bins by integer cross-division, rates in
    floor-permille). On this corpus the mass sits at the curve's two
    ends (near-0 pairs never collide, near-1 dupes always do) — i.e.
    the 4x2 banding separates perfectly here; mid-bins populate on
    fuzzier corpora. The all-pairs leg is the labeled bounded baseline
    (doc_id < 120); at scale the curve is estimated from banding
    candidates + a pair sample, exactly like dedup_minhash_recall."""
    d = (_t(spark, sf_dir, "documents")
         .filter((F.col("doc_id") < 120) & F.col("text").isNotNull()))
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    sh = toks.select(
        "doc_id",
        F.expr("CASE WHEN size(t) >= 3 THEN array_distinct(transform("
               "sequence(1, size(t) - 2), i -> concat(element_at(t, i),"
               " ' ', element_at(t, i+1), ' ', element_at(t, i+2))))"
               " ELSE array() END").alias("shingles"))
    ne = sh.filter(F.size("shingles") > 0)
    # signature via the shared permutation family (dedup.MINHASH_A/B/P)
    from .operators.dedup import minhash_signatures
    sig = minhash_signatures(ne, "doc_id", 8)
    a = ne.select(F.col("doc_id").alias("id_a"),
                  F.col("shingles").alias("sa"))
    b = ne.select(F.col("doc_id").alias("id_b"),
                  F.col("shingles").alias("sb"))
    pairs = (a.join(b, F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.size(F.array_intersect("sa", "sb")).cast("long")
                     .alias("inter"),
                     (F.size("sa") + F.size("sb")
                      - F.size(F.array_intersect("sa", "sb")))
                     .cast("long").alias("uni")))
    x = sig.select(F.col("doc_id").alias("id_a"),
                   *[F.col(f"h{k}").alias(f"xa{k}") for k in range(8)])
    y = sig.select(F.col("doc_id").alias("id_b"),
                   *[F.col(f"h{k}").alias(f"yb{k}") for k in range(8)])
    coll = (pairs.join(x, "id_a").join(y, "id_b")
            .select("inter", "uni",
                    F.when(
                        ((F.col("xa0") == F.col("yb0"))
                         & (F.col("xa1") == F.col("yb1")))
                        | ((F.col("xa2") == F.col("yb2"))
                           & (F.col("xa3") == F.col("yb3")))
                        | ((F.col("xa4") == F.col("yb4"))
                           & (F.col("xa5") == F.col("yb5")))
                        | ((F.col("xa6") == F.col("yb6"))
                           & (F.col("xa7") == F.col("yb7"))),
                        1).otherwise(0).alias("collided")))
    return (coll.groupBy(
                F.least(F.lit(9), F.expr("inter * 10 div uni"))
                .cast("int").alias("jaccard_bin"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("collided").cast("long").alias("n_collided"))
            .withColumn("collide_permille",
                        F.expr("CAST(n_collided * 1000 div n_pairs"
                               " AS BIGINT)")))


# ---------------------------------------------------------------------
# Churn-risk buckets — users by days since last activity
# ---------------------------------------------------------------------

@query("events_churn_buckets", """
    WITH g AS (SELECT MAX(ts) AS wm FROM events),
    u AS (
      SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    b AS (
      SELECT CASE
               WHEN epoch_us(g.wm) - epoch_us(u.last_ts)
                    < CAST(7 AS BIGINT) * 86400000000 THEN 'active_7d'
               WHEN epoch_us(g.wm) - epoch_us(u.last_ts)
                    < CAST(14 AS BIGINT) * 86400000000 THEN 'cooling_14d'
               WHEN epoch_us(g.wm) - epoch_us(u.last_ts)
                    < CAST(21 AS BIGINT) * 86400000000 THEN 'at_risk_21d'
               ELSE 'churned' END AS bucket,
             u.n_events
      FROM u, g),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM b)
    SELECT bucket,
           COUNT(*) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(COUNT(*) * 1000 // t.n_total AS BIGINT)
             AS share_permille
    FROM b, t GROUP BY bucket, t.n_total
""")
def events_churn_buckets(spark, sf_dir):
    """Churn-risk segmentation: users bucketed by integer-microsecond
    age of their last activity against the corpus watermark
    (7/14/21-day fences), with each bucket's user share in
    floor-permille — the lifecycle report a retention team refreshes
    daily, and the natural consumer of dq_freshness_watermark's
    watermark. One per-user aggregate, a 1-row watermark broadcast,
    and a 4-group rollup; every division is exact BIGINT floor
    division."""
    e = _events(spark, sf_dir)
    g = e.agg(F.max("ts").alias("wm"))
    u = (e.filter(F.col("user_id").isNotNull())
         .groupBy("user_id")
         .agg(F.max("ts").alias("last_ts"),
              F.count(F.lit(1)).alias("n_events")))
    age = F.unix_micros(F.col("wm")) - F.unix_micros(F.col("last_ts"))
    day = 86400000000
    b = (u.crossJoin(F.broadcast(g))
         .select(F.when(age < 7 * day, "active_7d")
                 .when(age < 14 * day, "cooling_14d")
                 .when(age < 21 * day, "at_risk_21d")
                 .otherwise("churned").alias("bucket"),
                 "n_events"))
    t = b.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("n_events").cast("long").alias("n_events"))
            .crossJoin(F.broadcast(t))
            .selectExpr("bucket", "n_users", "n_events",
                        "CAST(n_users * 1000 div n_total AS BIGINT)"
                        " AS share_permille"))


# ---------------------------------------------------------------------
# Single-source supply risk — revenue exposed to 1-supplier parts
# ---------------------------------------------------------------------

@query("supply_single_source_risk", """
    WITH ps AS (
      SELECT l_partkey,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey),
    b AS (
      SELECT CASE WHEN n_suppliers = 1 THEN 'single_source'
                  WHEN n_suppliers = 2 THEN 'dual_source'
                  ELSE 'multi_source' END AS sourcing, rev_cents
      FROM ps),
    t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM b)
    SELECT sourcing,
           COUNT(*) AS n_parts,
           CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(rev_cents) * 1000 // CAST(t.total AS HUGEINT)
                AS BIGINT) AS revenue_share_permille
    FROM b, t GROUP BY sourcing, t.total
""")
def supply_single_source_risk(spark, sf_dir):
    """Supply-chain concentration risk: parts bucketed by how many
    distinct suppliers actually ship them, with the exact revenue share
    riding on single- and dual-sourced parts — the exposure number a
    procurement review starts from (complements q16's per-part supplier
    counts with the revenue-weighted rollup). One partial+final
    count-distinct per part, a 3-way bucket rollup, a 1-row total
    broadcast, and floor-permille shares of exact cents."""
    li = _t(spark, sf_dir, "lineitem")
    ps = (li.groupBy("l_partkey")
          .agg(F.countDistinct("l_suppkey").cast("long")
               .alias("n_suppliers"),
               F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                     * 100).cast("long").alias("rev_cents")))
    b = ps.select(
        F.when(F.col("n_suppliers") == 1, "single_source")
        .when(F.col("n_suppliers") == 2, "dual_source")
        .otherwise("multi_source").alias("sourcing"), "rev_cents")
    t = b.agg(F.sum("rev_cents").cast("long").alias("total"))
    return (b.groupBy("sourcing")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("rev_cents").cast("long").alias("revenue_cents"))
            .crossJoin(F.broadcast(t))
            .selectExpr("sourcing", "n_parts", "revenue_cents",
                        "CAST(revenue_cents * 1000 div total AS BIGINT)"
                        " AS revenue_share_permille"))


# ---------------------------------------------------------------------
# Split-leakage audit — exact dupes crossing the train/test boundary
# ---------------------------------------------------------------------

@query("dq_split_leakage", """
    WITH s AS (
      SELECT doc_id, md5(text) AS content_hash,
             CASE WHEN ('0x' || substr(md5(text), 1, 2))::BIGINT < 204
                  THEN 'train'
                  WHEN ('0x' || substr(md5(text), 1, 2))::BIGINT < 230
                  THEN 'val' ELSE 'test' END AS split
      FROM documents WHERE text IS NOT NULL),
    h AS (
      SELECT content_hash,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_val,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_test
      FROM s GROUP BY content_hash)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(n_train) AS BIGINT) AS n_train_docs,
           CAST(SUM(n_val + n_test) AS BIGINT) AS n_eval_docs,
           CAST(SUM(CASE WHEN n_train > 0 AND (n_val + n_test) > 0
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS leaked_texts,
           CAST(SUM(CASE WHEN n_train > 0 AND (n_val + n_test) > 0
                         THEN n_val + n_test ELSE 0 END) AS BIGINT)
             AS contaminated_eval_docs
    FROM h
""")
def dq_split_leakage(spark, sf_dir):
    """Split-leakage (self-decontamination) audit: does any EXACT text
    appear on both sides of the content-hash train/eval boundary? With
    the data_split_assign recipe (split keyed on md5(text)) the answer
    is structurally zero — identical texts always hash to the same
    split — and this audit PROVES that invariant end to end, the check
    that catches the classic bug of splitting on row id instead of
    content (duplicate texts then straddle the boundary and eval
    scores go fraudulent). One content-hash aggregate; all counts
    exact integers."""
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select(F.md5("text").alias("content_hash")))
    bucket = (F.conv(F.substring(F.col("content_hash"), 1, 2), 16, 10)
              .cast("long"))
    s = d.select("content_hash",
                 F.when(bucket < 204, "train")
                 .when(bucket < 230, "val")
                 .otherwise("test").alias("split"))
    h = (s.groupBy("content_hash")
         .agg(F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
              .cast("long").alias("n_train"),
              F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
              .cast("long").alias("n_val"),
              F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
              .cast("long").alias("n_test")))
    return h.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_texts"),
        F.sum("n_train").cast("long").alias("n_train_docs"),
        F.sum(F.col("n_val") + F.col("n_test")).cast("long")
        .alias("n_eval_docs"),
        F.sum(F.when((F.col("n_train") > 0)
                     & (F.col("n_val") + F.col("n_test") > 0), 1)
              .otherwise(0)).cast("long").alias("leaked_texts"),
        F.sum(F.when((F.col("n_train") > 0)
                     & (F.col("n_val") + F.col("n_test") > 0),
                     F.col("n_val") + F.col("n_test"))
              .otherwise(0)).cast("long")
        .alias("contaminated_eval_docs"))


# ---------------------------------------------------------------------
# K-fold assignment — content-keyed CV folds with balance audit
# ---------------------------------------------------------------------

@query("sample_kfold_assign", """
    WITH s AS (
      SELECT CAST(('0x' || substr(md5('fold:' || text), 1, 8))::BIGINT
                  % 5 AS INTEGER) AS fold
      FROM documents WHERE text IS NOT NULL),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM s)
    SELECT fold, COUNT(*) AS n_docs,
           CAST(COUNT(*) * 1000 // t.n_total AS BIGINT)
             AS share_permille,
           CAST(abs(COUNT(*) * 5 - t.n_total) * 1000 // t.n_total
                AS BIGINT) AS imbalance_permille
    FROM s, t GROUP BY fold, t.n_total
""")
def sample_kfold_assign(spark, sf_dir):
    """5-fold cross-validation assignment keyed on CONTENT (salted
    md5 of the text, the data_split_assign recipe) so duplicate
    documents always share a fold — no leakage across folds by
    construction — with each fold's share and its deviation from the
    ideal n/5 in floor-permille, the balance audit run before any CV
    result is trusted. One hash-bucket aggregate and a 1-row total."""
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    fold = (F.conv(F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("text"))), 1, 8),
                16, 10).cast("long") % 5).cast("int")
    s = d.select(fold.alias("fold"))
    t = s.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (s.groupBy("fold").agg(F.count(F.lit(1)).alias("n_docs"))
            .crossJoin(F.broadcast(t))
            .selectExpr(
                "fold", "n_docs",
                "CAST(n_docs * 1000 div n_total AS BIGINT)"
                " AS share_permille",
                "CAST(abs(n_docs * 5 - n_total) * 1000 div n_total"
                " AS BIGINT) AS imbalance_permille"))


# ---------------------------------------------------------------------
# Monthly seasonal index — revenue month-vs-year in exact permille
# ---------------------------------------------------------------------

@query("orders_seasonal_index", """
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2),
    y AS (SELECT yr, CAST(SUM(rev_cents) AS BIGINT) AS yr_cents,
                 CAST(COUNT(*) AS BIGINT) AS n_months
          FROM m GROUP BY yr)
    SELECT m.yr, m.mo, m.rev_cents,
           CAST(CAST(m.rev_cents AS HUGEINT) * y.n_months * 1000
                // y.yr_cents AS BIGINT) AS seasonal_index_permille
    FROM m JOIN y ON y.yr = m.yr
""")
def orders_seasonal_index(spark, sf_dir):
    """Classical seasonal index on the revenue calendar: each month's
    exact-cents revenue against its year's average month, in
    floor-permille (1000 = an average month; the n_months factor keeps
    partial years honest). The per-month and per-year aggregates reuse
    one exchange; the index is a single integer cross-multiplication —
    the month-granular complement to events_seasonality_profile's
    hour-of-week matrix."""
    o = _t(spark, sf_dir, "orders")
    m = (o.groupBy(F.year("o_orderdate").alias("yr"),
                   F.month("o_orderdate").alias("mo"))
         .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").alias("rev_cents")))
    y = (m.groupBy("yr")
         .agg(F.sum("rev_cents").cast("long").alias("yr_cents"),
              F.count(F.lit(1)).cast("long").alias("n_months")))
    return (m.join(F.broadcast(y), "yr")
            .selectExpr(
                "yr", "mo", "rev_cents",
                "CAST(CAST(rev_cents AS DECIMAL(19,0)) * n_months"
                " * 1000 div yr_cents AS BIGINT)"
                " AS seasonal_index_permille"))


# ---------------------------------------------------------------------
# Embedding-norm histogram — is the space normalized?
# ---------------------------------------------------------------------

@query("embed_norm_histogram", """
    WITH n AS (
      SELECT sqrt(list_reduce(list_transform(
                 range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE)
                      * CAST(embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0)
    SELECT CAST(least(19, CAST(floor(nrm * 10.0) AS BIGINT))
                AS INTEGER) AS norm_bucket,
           COUNT(*) AS n_vectors
    FROM n GROUP BY 1
""")
def embed_norm_histogram(spark, sf_dir):
    """Embedding QA: the L2-norm distribution in 0.1-wide buckets —
    the first thing to check before cosine indexing (a normalized
    space collapses to one bucket; a spread says raw dot products and
    cosine will rank differently). The norm is sqrt of the order-
    pinned sequential fold — bit-identical across engines (COVERAGE.md
    class 5: same fold order, correctly-rounded sqrt) — so the floored
    bucket counts value-hash. Zero-shuffle map + one tiny aggregate."""
    from .operators.similarity import l2_norm, valid_vectors
    emb = valid_vectors(_t(spark, sf_dir, "embeddings"))
    bucket = (F.least(F.lit(19),
                      F.floor(l2_norm(F.col("embedding")) * 10.0))
              .cast("int").alias("norm_bucket"))
    return (emb.select(bucket).groupBy("norm_bucket")
            .agg(F.count(F.lit(1)).alias("n_vectors")))


# ---------------------------------------------------------------------
# Duplication spectrum — exact-dup family sizes across the corpus
# ---------------------------------------------------------------------

@query("text_dup_family_spectrum", """
    WITH fam AS (
      SELECT md5(text) AS h, COUNT(*) AS sz
      FROM documents WHERE text IS NOT NULL GROUP BY md5(text)),
    b AS (
      SELECT CASE WHEN sz = 1 THEN 'unique'
                  WHEN sz = 2 THEN 'pair'
                  WHEN sz <= 4 THEN 'small_3_4'
                  ELSE 'large_5_plus' END AS family_class,
             sz
      FROM fam),
    t AS (SELECT CAST(SUM(sz) AS BIGINT) AS n_docs FROM b)
    SELECT family_class,
           COUNT(*) AS n_families,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable,
           CAST(SUM(sz) * 1000 // t.n_docs AS BIGINT)
             AS doc_share_permille
    FROM b, t GROUP BY family_class, t.n_docs
""")
def text_dup_family_spectrum(spark, sf_dir):
    """The duplication spectrum: exact-duplicate FAMILY sizes bucketed
    (unique / pair / 3-4 / 5+), with how many documents each class
    holds and how many a keep-one policy would remove — the shape that
    tells a curation team whether duplication is a long tail of pairs
    or a few mega-families (different dedup strategies win in each
    regime; complements dedup_exact, which keeps, and
    dedup_ratio_by_source, which attributes). One 32-byte-hash
    aggregate — bodies never shuffle — then a 4-class rollup."""
    fam = (_t(spark, sf_dir, "documents")
           .filter(F.col("text").isNotNull())
           .groupBy(F.md5("text").alias("h"))
           .agg(F.count(F.lit(1)).alias("sz")))
    b = fam.select(
        F.when(F.col("sz") == 1, "unique")
        .when(F.col("sz") == 2, "pair")
        .when(F.col("sz") <= 4, "small_3_4")
        .otherwise("large_5_plus").alias("family_class"), "sz")
    t = b.agg(F.sum("sz").cast("long").alias("n_docs_total"))
    return (b.groupBy("family_class")
            .agg(F.count(F.lit(1)).alias("n_families"),
                 F.sum("sz").cast("long").alias("n_docs"),
                 F.sum(F.col("sz") - 1).cast("long")
                 .alias("n_removable"))
            .crossJoin(F.broadcast(t))
            .selectExpr("family_class", "n_families", "n_docs",
                        "n_removable",
                        "CAST(n_docs * 1000 div n_docs_total AS BIGINT)"
                        " AS doc_share_permille"))


# ---------------------------------------------------------------------
# Priority-mix drift — monthly order-priority mix vs the overall mix
# ---------------------------------------------------------------------

@query("orders_priority_mix_drift", """
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 100
                  + EXTRACT(month FROM o_orderdate) AS INTEGER) AS ym,
             o_orderpriority AS pri, COUNT(*) AS n
      FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2),
    mt AS (SELECT ym, CAST(SUM(n) AS BIGINT) AS m_total
           FROM m GROUP BY ym),
    g AS (SELECT pri, CAST(SUM(n) AS BIGINT) AS g_n FROM m
          GROUP BY pri),
    gt AS (SELECT CAST(SUM(g_n) AS BIGINT) AS g_total FROM g)
    SELECT m.ym, m.pri, m.n,
           CAST(m.n * 1000 // mt.m_total AS BIGINT) AS obs_permille,
           CAST(g.g_n * 1000 // gt.g_total AS BIGINT) AS exp_permille,
           CAST(m.n * 1000 // mt.m_total
                - g.g_n * 1000 // gt.g_total AS BIGINT)
             AS drift_permille
    FROM m JOIN mt ON mt.ym = m.ym
           JOIN g ON g.pri = m.pri, gt
""")
def orders_priority_mix_drift(spark, sf_dir):
    """Categorical mix-shift monitor: each month's order-priority mix
    in floor-permille against the corpus-wide mix, with the signed
    drift — the report that catches an upstream enum change or a
    routing bug as a sudden mix shift (the categorical twin of
    stats_ks_drift's numeric two-cohort test). Cell, month-total, and
    global-mix aggregates reuse one (ym, pri) shuffle; the mix tables
    broadcast."""
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isNotNull()))
    m = (o.groupBy((F.year("o_orderdate") * 100
                    + F.month("o_orderdate")).cast("int").alias("ym"),
                   F.col("o_orderpriority").alias("pri"))
         .agg(F.count(F.lit(1)).alias("n")))
    mt = m.groupBy("ym").agg(F.sum("n").cast("long").alias("m_total"))
    g = m.groupBy("pri").agg(F.sum("n").cast("long").alias("g_n"))
    gt = g.agg(F.sum("g_n").cast("long").alias("g_total"))
    return (m.join(F.broadcast(mt), "ym")
            .join(F.broadcast(g), "pri")
            .crossJoin(F.broadcast(gt))
            .selectExpr(
                "ym", "pri", "n",
                "CAST(n * 1000 div m_total AS BIGINT) AS obs_permille",
                "CAST(g_n * 1000 div g_total AS BIGINT)"
                " AS exp_permille",
                "CAST(n * 1000 div m_total - g_n * 1000 div g_total"
                " AS BIGINT) AS drift_permille"))


# ---------------------------------------------------------------------
# Per-source quality gate — the curation dashboard over Gopher rules
# ---------------------------------------------------------------------

def _register_source_quality_matrix():
    # imported explicitly: the registry imports this module BEFORE
    # catalog_quality (alphabetical), so the gopher oracle this rollup
    # nests must be registered here, not assumed
    from . import catalog_quality  # noqa: F401
    from .catalog import ORACLES
    gopher = ORACLES["text_gopher_rules"].strip()
    oracle = f"""
    WITH gate AS ({gopher}),
    j AS (
      SELECT d.source, g.passes
      FROM documents d JOIN gate g ON g.doc_id = d.doc_id
      WHERE d.source IS NOT NULL)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS pass_permille
    FROM j GROUP BY source
"""

    def docs_source_quality_matrix(spark, sf_dir):
        """Curation dashboard: each source's pass rate through the
        Gopher-style quality gate, in floor-permille — the table that
        decides which feeds get mixture weight and which get a
        filtering pass first. COMPOSES the driver-green
        text_gopher_rules entry (its per-doc frame joins back to the
        source column; its oracle text nests as a CTE), so the rollup
        inherits that entry's verified cross-engine rule semantics
        rather than re-deriving them."""
        from .catalog_quality import text_gopher_rules
        gate = text_gopher_rules(spark, sf_dir).select(
            "doc_id", "passes")
        d = (_t(spark, sf_dir, "documents")
             .filter(F.col("source").isNotNull())
             .select("doc_id", "source"))
        j = d.join(gate, "doc_id")
        return (j.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.when(F.col("passes"), 1).otherwise(0))
                     .cast("long").alias("n_pass"))
                .withColumn("pass_permille",
                            F.expr("CAST(n_pass * 1000 div n_docs"
                                   " AS BIGINT)")))

    query("docs_source_quality_matrix", oracle)(
        docs_source_quality_matrix)


_register_source_quality_matrix()


# ---------------------------------------------------------------------
# Token-budget apportionment — Hamilton largest-remainder allocation
# ---------------------------------------------------------------------

_MIX_BUDGET = 1_000_000


@query("mix_token_budget_allocation", f"""
    WITH s AS (
      SELECT source,
             CAST(SUM(length(text) // 4) AS BIGINT) AS est_tokens
      FROM documents
      WHERE source IS NOT NULL AND text IS NOT NULL
      GROUP BY source),
    t AS (SELECT CAST(SUM(est_tokens) AS BIGINT) AS total FROM s),
    q AS (
      SELECT s.source, s.est_tokens,
             CAST(CAST({_MIX_BUDGET} AS HUGEINT) * s.est_tokens
                  // t.total AS BIGINT) AS floor_alloc,
             CAST(CAST({_MIX_BUDGET} AS HUGEINT) * s.est_tokens
                  % t.total AS BIGINT) AS remainder
      FROM s, t),
    k AS (SELECT CAST({_MIX_BUDGET} - SUM(floor_alloc) AS BIGINT)
                 AS n_extra FROM q),
    r AS (
      SELECT q.*, k.n_extra,
             row_number() OVER (ORDER BY q.remainder DESC, q.source)
               AS rk
      FROM q, k)
    SELECT source, est_tokens,
           CAST(floor_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens,
           CAST(rk AS INTEGER) AS remainder_rank
    FROM r
""")
def mix_token_budget_allocation(spark, sf_dir):
    """Hamilton (largest-remainder) apportionment of a fixed training
    token budget across sources: floor each proportional quota, then
    award the leftover tokens to the largest exact remainders — the
    allocation sums to the budget EXACTLY (no float quota ever exists:
    remainders are modular integers, compared exactly), which is the
    property samplers need so epoch plans don't drift by a token.
    The quota math is one integer expression over the per-source
    aggregate; the remainder rank window runs over |sources| rows.
    Apportionment paradoxes (Alabama etc.) are inherent to Hamilton's
    method and fine here — the budget is a cap, not a seat count."""
    s = (_t(spark, sf_dir, "documents")
         .filter(F.col("source").isNotNull() & F.col("text").isNotNull())
         .groupBy("source")
         .agg(F.sum(F.floor(F.length("text") / 4)).cast("long")
              .alias("est_tokens")))
    t = s.agg(F.sum("est_tokens").cast("long").alias("total"))
    q = (s.crossJoin(F.broadcast(t))
         .selectExpr(
             "source", "est_tokens",
             f"CAST(CAST({_MIX_BUDGET} AS DECIMAL(19,0)) * est_tokens"
             f" div total AS BIGINT) AS floor_alloc",
             f"CAST(CAST({_MIX_BUDGET} AS DECIMAL(19,0)) * est_tokens"
             f" % total AS BIGINT) AS remainder"))
    k = q.agg((F.lit(_MIX_BUDGET) - F.sum("floor_alloc")).cast("long")
              .alias("n_extra"))
    w = Window.orderBy(F.col("remainder").desc(), "source")
    r = (q.crossJoin(F.broadcast(k))
         .withColumn("rk", F.row_number().over(w)))
    return r.selectExpr(
        "source", "est_tokens",
        "CAST(floor_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END"
        " AS BIGINT) AS alloc_tokens",
        "CAST(rk AS INTEGER) AS remainder_rank")


# ---------------------------------------------------------------------
# Session interval-union coverage — merged activity time per user
# ---------------------------------------------------------------------

@query("events_session_coverage", """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(1800 AS BIGINT) * 1000000 AS e_us,
             ts, event_id
      FROM events WHERE user_id IS NOT NULL),
    m AS (
      SELECT user_id, s_us, e_us, ts, event_id,
             CASE WHEN s_us <= max(e_us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 0 ELSE 1 END AS is_new
      FROM e),
    g AS (
      SELECT user_id, s_us, e_us,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM m),
    iv AS (
      SELECT user_id, grp,
             CAST(MAX(e_us) - MIN(s_us) AS BIGINT) AS span_us
      FROM g GROUP BY user_id, grp),
    u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
             CAST(SUM(span_us) AS BIGINT) AS covered_us
      FROM iv GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_intervals) AS BIGINT) AS n_merged_intervals,
           CAST(SUM(covered_us) // 60000000 AS BIGINT)
             AS covered_minutes,
           CAST(MAX(covered_us) // 60000000 AS BIGINT)
             AS max_user_minutes
    FROM u
""")
def events_session_coverage(spark, sf_dir):
    """Interval-union coverage: every event opens a 30-minute activity
    window; overlapping windows per user MERGE (the classic interval-
    union sweep — a window is new only if it starts after the running
    max end of everything before it), and the audit publishes how much
    wall-clock the corpus actually covers once overlaps collapse — the
    honest denominator for engagement-time metrics that naive
    n_events*30min double-counts. All integer microseconds; the sweep
    windows partition per user; the rollup is one global aggregate."""
    e = _events(spark, sf_dir)
    base = (e.filter(F.col("user_id").isNotNull())
            .select("user_id",
                    F.unix_micros(F.col("ts")).alias("s_us"),
                    (F.unix_micros(F.col("ts"))
                     + F.lit(1800) * 1000000).alias("e_us"),
                    "ts", "event_id"))
    w_prev = (Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    m = base.withColumn(
        "is_new",
        F.when(F.col("s_us") <= F.max("e_us").over(w_prev), 0)
        .otherwise(1))
    # grp MUST accumulate is_new over the SAME (ts, event_id) total
    # order is_new was computed over: ordering by (s_us, e_us) is
    # tie-order-dependent when a user has two events at one timestamp
    # (covered_us then differs between tie orders and vs the oracle).
    w_grp = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g = m.withColumn("grp", F.sum("is_new").over(w_grp))
    iv = (g.groupBy("user_id", "grp")
          .agg((F.max("e_us") - F.min("s_us")).cast("long")
               .alias("span_us")))
    u = (iv.groupBy("user_id")
         .agg(F.count(F.lit(1)).cast("long").alias("n_intervals"),
              F.sum("span_us").cast("long").alias("covered_us")))
    return u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_intervals").cast("long").alias("n_merged_intervals"),
        F.expr("CAST(SUM(covered_us) div 60000000 AS BIGINT)")
        .alias("covered_minutes"),
        F.expr("CAST(MAX(covered_us) div 60000000 AS BIGINT)")
        .alias("max_user_minutes"))


# ---------------------------------------------------------------------
# Degree distribution — the one-line shape of the co-purchase graph
# ---------------------------------------------------------------------

@query("graph_degree_distribution", """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT pa AS p FROM e UNION ALL SELECT pb AS p FROM e)
      GROUP BY p),
    b AS (
      SELECT CAST(CASE WHEN d = 0 THEN 0
                       ELSE CAST(floor(log2(d)) AS BIGINT) + 1 END
                  AS INTEGER) AS degree_bucket,
             d
      FROM deg)
    SELECT degree_bucket,
           COUNT(*) AS n_vertices,
           CAST(SUM(d) AS BIGINT) AS sum_degree,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM b GROUP BY degree_bucket
""")
def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the co-purchase part graph in log2
    buckets — the single chart that says whether the graph is
    power-law (skewed buckets; partition-killing hubs) or flat, i.e.
    whether downstream joins need skew handling. Bucket = floor(log2
    (d))+1 is exact for BIGINT degrees (log2 of an exact power of two
    is exact in IEEE; values in between are far from boundaries, and
    both engines evaluate the SAME double log2 on the SAME integers).
    Edge derivation reuses the basket-bounded self-join; everything
    else is counts."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pb"))
    e = (a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
         .select("pa", "pb").distinct())
    deg = (e.select(F.col("pa").alias("p"))
           .unionAll(e.select(F.col("pb").alias("p")))
           .groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d")))
    bk = deg.select(
        (F.floor(F.log2("d")) + 1).cast("int").alias("degree_bucket"),
        "d")
    return (bk.groupBy("degree_bucket")
            .agg(F.count(F.lit(1)).alias("n_vertices"),
                 F.sum("d").cast("long").alias("sum_degree"),
                 F.min("d").cast("long").alias("min_degree"),
                 F.max("d").cast("long").alias("max_degree")))


# ---------------------------------------------------------------------
# Vocabulary coverage curve — token mass captured by the top-k types
# ---------------------------------------------------------------------

@query("text_vocab_coverage_curve", """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
      WHERE text IS NOT NULL),
    c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tok
          WHERE term <> '' GROUP BY term),
    r AS (
      SELECT n,
             row_number() OVER (ORDER BY n DESC, term) AS rk,
             CAST(SUM(n) OVER () AS BIGINT) AS total
      FROM c),
    k AS (SELECT unnest([10, 100, 1000]) AS top_k)
    SELECT CAST(k.top_k AS INTEGER) AS top_k,
           CAST(SUM(CASE WHEN r.rk <= k.top_k THEN r.n ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(MAX(r.total) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN r.rk <= k.top_k THEN r.n ELSE 0 END)
                * 1000 // MAX(r.total) AS BIGINT)
             AS coverage_permille
    FROM r, k GROUP BY k.top_k
""")
def text_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: the share of all token OCCURRENCES
    captured by the top-10/100/1000 most frequent types — the number
    that sizes a tokenizer's vocabulary budget (Zipfian corpora
    saturate early; flat ones don't). The frequency rank comes from
    the two-pass global prefix scan over the VOCABULARY-sized count
    table (never the corpus), the totals it returns fold in as
    literals, and each k's covered mass is one conditional sum —
    coverage published in exact floor-permille. Complements
    text_zipf_topk (the head itself) with the cumulative-mass view."""
    from .operators.twopass import ROW_COL, global_prefix
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = (d.select(F.explode(F.split("text", " ")).alias("term"))
         .filter(F.col("term") != "")
         .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n")))
    g, n_types, total = global_prefix(
        c, [F.col("n").desc(), F.col("term")], sum_col="n")
    legs = []
    for k in (10, 100, 1000):
        legs.append(
            g.agg(F.sum(F.when(F.col(ROW_COL) <= k, F.col("n"))
                        .otherwise(0)).cast("long")
                  .alias("covered_tokens"))
            .selectExpr(f"CAST({k} AS INT) AS top_k", "covered_tokens",
                        f"CAST({total} AS BIGINT) AS total_tokens",
                        f"CAST(covered_tokens * 1000 div {total}"
                        f" AS BIGINT) AS coverage_permille"))
    out = legs[0]
    for x in legs[1:]:
        out = out.unionAll(x)
    return out


# ---------------------------------------------------------------------
# Peak concurrency — global sweep-line maximum via two-pass prefix
# ---------------------------------------------------------------------

@query("events_peak_concurrency", """
    WITH e AS (
      SELECT epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(1800 AS BIGINT) * 1000000 AS e_us,
             event_id
      FROM events WHERE user_id IS NOT NULL),
    pts AS (
      SELECT s_us AS t, CAST(1 AS BIGINT) AS delta, event_id FROM e
      UNION ALL
      SELECT e_us AS t, CAST(-1 AS BIGINT) AS delta, event_id FROM e),
    run AS (
      SELECT t, delta,
             CAST(SUM(delta) OVER (ORDER BY t, delta, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live
      FROM pts)
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(MIN(live) AS BIGINT) AS min_live
    FROM run
""")
def events_peak_concurrency(spark, sf_dir):
    """Global peak concurrency by the classic sweep line: every
    activity window emits +1 at its start and -1 at its end, and the
    maximum of the running sum over ALL boundary points is the peak
    number of simultaneously-open sessions — capacity planning's
    headline number. The running sum is GLOBAL, which is exactly the
    single-partition-window trap, so it runs through
    operators/twopass.global_prefix (range shuffle on the boundary
    order, partition-local prefix sums + broadcast offsets) and the
    peak is a plain MAX over the distributed prefix column — no stage
    ever single-partitions the boundary stream. Tie order
    (t, delta, event_id) closes a window before opening a coincident
    one (delta -1 sorts first), so back-to-back sessions never
    double-count; identical tie order on both engines."""
    from .operators.twopass import SUM_COL, global_prefix
    e = (_events(spark, sf_dir)
         .filter(F.col("user_id").isNotNull())
         .select(F.unix_micros(F.col("ts")).alias("s_us"),
                 (F.unix_micros(F.col("ts")) + F.lit(1800) * 1000000)
                 .alias("e_us"),
                 "event_id"))
    pts = (e.select(F.col("s_us").alias("t"),
                    F.lit(1).cast("long").alias("delta"), "event_id")
           .unionAll(
               e.select(F.col("e_us").alias("t"),
                        F.lit(-1).cast("long").alias("delta"),
                        "event_id")))
    g, n_pts, _tot = global_prefix(
        pts, [F.col("t"), F.col("delta"), F.col("event_id")],
        sum_col="delta")
    return g.agg(
        F.lit(n_pts // 2).cast("long").alias("n_intervals"),
        F.max(SUM_COL).cast("long").alias("peak_concurrent"),
        F.min(SUM_COL).cast("long").alias("min_live"))


# ---------------------------------------------------------------------
# As-of join with tolerance — attribution windows that expire
# ---------------------------------------------------------------------

@query("join_asof_tolerance", """
    WITH j AS (
      SELECT l.event_id, l.ts AS p_ts, r.ts AS t_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events
                      WHERE event_type <> 'purchase') r
        ON l.user_id = r.user_id AND l.ts >= r.ts),
    c AS (
      SELECT CASE WHEN t_ts IS NULL THEN 'no_touch'
                  WHEN epoch_us(p_ts) - epoch_us(t_ts) <= 3600000000
                  THEN 'attributed'
                  ELSE 'expired' END AS outcome,
             CASE WHEN t_ts IS NOT NULL
                       AND epoch_us(p_ts) - epoch_us(t_ts)
                           <= 3600000000
                  THEN (epoch_us(p_ts) - epoch_us(t_ts)) // 60000000
                  ELSE 0 END AS lag_min
      FROM j)
    SELECT outcome, COUNT(*) AS n_purchases,
           CAST(SUM(lag_min) AS BIGINT) AS sum_lag_minutes
    FROM c GROUP BY outcome
""")
def join_asof_tolerance(spark, sf_dir):
    """As-of join WITH TOLERANCE (pandas merge_asof's tolerance= /
    kdb's wj window): a purchase is attributed to the user's most
    recent prior touch only if that touch is at most 1 hour old —
    older matches EXPIRE rather than attribute, the semantics every
    attribution window in production actually has. Composes the
    verified union+ordered-window asof operator
    (operators/temporal.py::asof_join — one user_id shuffle, no range
    explosion) with an integer-microsecond staleness classifier;
    per-pair lags floor to whole minutes before summing."""
    from .operators import temporal
    ev = _events(spark, sf_dir)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    touches = (ev.filter(F.col("event_type") != "purchase")
               .select("user_id", "ts", F.col("ts").alias("t_ts")))
    j = temporal.asof_join(purchases, touches, key="user_id", ts="ts",
                           right_cols=["t_ts"])
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_t_ts"))
    c = j.select(
        F.when(F.col("r_t_ts").isNull(), "no_touch")
        .when(lag_us <= 3600 * 1000 * 1000, "attributed")
        .otherwise("expired").alias("outcome"),
        F.when(F.col("r_t_ts").isNotNull()
               & (lag_us <= 3600 * 1000 * 1000),
               F.expr("(unix_micros(ts) - unix_micros(r_t_ts))"
                      " div 60000000"))
        .otherwise(0).alias("lag_min"))
    return (c.groupBy("outcome")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum("lag_min").cast("long")
                 .alias("sum_lag_minutes")))


# ---------------------------------------------------------------------
# Term burstiness — Church-Gale cf/df for the frequency head
# ---------------------------------------------------------------------

@query("text_term_burstiness", """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text IS NOT NULL),
    c AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS cf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok WHERE term <> '' GROUP BY term),
    top AS (
      SELECT term, cf, df,
             CAST(row_number() OVER (ORDER BY cf DESC, term)
                  AS INTEGER) AS rk
      FROM c)
    SELECT term, cf, df,
           CAST(cf * 1000000 // df AS BIGINT) AS burstiness_micros,
           rk
    FROM top WHERE rk <= 20
""")
def text_term_burstiness(spark, sf_dir):
    """Church-Gale burstiness for the frequency head: collection
    frequency over document frequency (cf/df, exact integer micros) —
    a function word appears everywhere once (ratio near corpus
    docs/df), a bursty topical term piles up inside few documents
    (high ratio). The signal topic-versus-stopword weighting schemes
    key on, published for the top-20 terms by cf (TakeOrdered head;
    the per-term aggregate is one partial+final pass with a
    count-distinct on doc_id)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = (d.select("doc_id",
                    F.explode(F.split("text", " ")).alias("term"))
           .filter(F.col("term") != ""))
    c = (tok.groupBy("term")
         .agg(F.count(F.lit(1)).cast("long").alias("cf"),
              F.countDistinct("doc_id").cast("long").alias("df")))
    top = c.orderBy(F.col("cf").desc(), "term").limit(20)
    w = Window.orderBy(F.col("cf").desc(), "term")
    return (top.withColumn("rk", F.row_number().over(w).cast("int"))
            .selectExpr("term", "cf", "df",
                        "CAST(cf * 1000000 div df AS BIGINT)"
                        " AS burstiness_micros", "rk"))


# ---------------------------------------------------------------------
# Header/detail reconciliation — o_totalprice vs derived line totals
# ---------------------------------------------------------------------

@query("dq_header_detail_reconcile", """
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100.0) AS BIGINT))
                  AS BIGINT) AS derived_cents,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey),
    j AS (
      SELECT o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS header_cents,
             li.derived_cents, li.n_lines
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey),
    c AS (
      SELECT CASE
               WHEN derived_cents IS NULL THEN 'no_lines'
               WHEN header_cents = derived_cents THEN 'exact'
               WHEN abs(header_cents - derived_cents) <= n_lines
               THEN 'rounding_band'
               ELSE 'mismatch' END AS status,
             CASE WHEN derived_cents IS NOT NULL
                  THEN abs(header_cents - derived_cents) ELSE 0 END
               AS abs_diff
      FROM j)
    SELECT status, COUNT(*) AS n_orders,
           CAST(SUM(abs_diff) AS BIGINT) AS sum_abs_diff_cents,
           CAST(MAX(abs_diff) AS BIGINT) AS max_abs_diff_cents
    FROM c GROUP BY status
""")
def dq_header_detail_reconcile(spark, sf_dir):
    """The classic header/detail reconciliation: each order's stored
    total against the total DERIVED from its lines
    (extprice*(1-disc)*(1+tax), floored to cents per line so the
    comparison is exact integers), classified exact / within the
    per-line rounding band / mismatch / no-lines — the audit that
    catches partial loads and double-posted lines in any financial
    lake. On the synthetic testdata the header is generated
    independently of the lines, so the audit reports mismatches — the
    finding is the feature, as with dq_uniqueness_audit. Per-line
    arithmetic is scalar (deterministic per row, identical IEEE
    product both engines), then one groupBy per order and a broadcast-
    friendly header join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    d = (li.groupBy("l_orderkey")
         .agg(F.sum(F.floor(F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            * (1 + F.col("l_tax")) * 100.0)
                    .cast("long")).cast("long").alias("derived_cents"),
              F.count(F.lit(1)).alias("n_lines")))
    j = o.select("o_orderkey",
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("header_cents")) \
        .join(d, o.o_orderkey == d.l_orderkey, "left")
    diff = F.abs(F.col("header_cents") - F.col("derived_cents"))
    c = j.select(
        F.when(F.col("derived_cents").isNull(), "no_lines")
        .when(F.col("header_cents") == F.col("derived_cents"), "exact")
        .when(diff <= F.col("n_lines"), "rounding_band")
        .otherwise("mismatch").alias("status"),
        F.when(F.col("derived_cents").isNotNull(), diff).otherwise(0)
        .alias("abs_diff"))
    return (c.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("abs_diff").cast("long")
                 .alias("sum_abs_diff_cents"),
                 F.max("abs_diff").cast("long")
                 .alias("max_abs_diff_cents")))


# ---------------------------------------------------------------------
# Basket-size distribution — lines per order, the join-planning prior
# ---------------------------------------------------------------------

@query("orders_basket_size_histogram", """
    WITH b AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM b)
    SELECT CAST(n_lines AS INTEGER) AS basket_size,
           COUNT(*) AS n_orders,
           CAST(COUNT(*) * 1000 // t.n_orders AS BIGINT)
             AS share_permille,
           CAST(SUM(n_lines) AS BIGINT) AS total_lines
    FROM b, t GROUP BY n_lines, t.n_orders
""")
def orders_basket_size_histogram(spark, sf_dir):
    """Basket-size distribution: how many lines orders carry — the
    prior that bounds every per-order pair explosion in this catalog
    (basket_part_pairs, modularity, degree distribution all blow up as
    C(basket,2)); a fat tail here is the early warning that those
    self-joins need AQE skew handling. One per-order count, one
    histogram rollup, shares in floor-permille."""
    li = _t(spark, sf_dir, "lineitem")
    b = (li.groupBy("l_orderkey")
         .agg(F.count(F.lit(1)).cast("long").alias("n_lines")))
    t = b.agg(F.count(F.lit(1)).cast("long").alias("n_orders_total"))
    return (b.groupBy(F.col("n_lines").cast("int").alias("basket_size"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("n_lines").cast("long").alias("total_lines"))
            .crossJoin(F.broadcast(t))
            .selectExpr("basket_size", "n_orders",
                        "CAST(n_orders * 1000 div n_orders_total"
                        " AS BIGINT) AS share_permille",
                        "total_lines"))


# ---------------------------------------------------------------------
# Generalization ladder — k-anonymity across coarsening levels
# ---------------------------------------------------------------------

_BAL_BAND_LADDER = """CASE WHEN c_acctbal IS NULL THEN 'unknown'
              WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END"""


@query("privacy_generalization_ladder", f"""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             {_BAL_BAND_LADDER} AS bal_band
      FROM customer),
    l0 AS (
      SELECT 0 AS level, CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(n) AS BIGINT) AS min_k,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_below_k5
      FROM (SELECT COUNT(*) AS n FROM base
            GROUP BY c_nationkey, c_mktsegment, bal_band)),
    l1 AS (
      SELECT 1 AS level, CAST(COUNT(*) AS BIGINT),
             CAST(MIN(n) AS BIGINT),
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      FROM (SELECT COUNT(*) AS n FROM base
            GROUP BY c_nationkey, c_mktsegment)),
    l2 AS (
      SELECT 2 AS level, CAST(COUNT(*) AS BIGINT),
             CAST(MIN(n) AS BIGINT),
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      FROM (SELECT COUNT(*) AS n FROM base GROUP BY c_nationkey))
    SELECT * FROM l0 UNION ALL SELECT * FROM l1
    UNION ALL SELECT * FROM l2
""")
def privacy_generalization_ladder(spark, sf_dir):
    """The generalization lattice walk behind every k-anonymity
    release: the SAME quasi-identifier set evaluated at three
    coarsening levels (nation+segment+balance band, drop the band,
    then nation alone), publishing each level's class count, minimum
    k, and rows still below k=5 — the table that says how much
    generalization the release actually needs (the Mondrian/Incognito
    decision input; extends privacy_k_anonymity's single-level audit).
    Three independent aggregates over one scan's projection."""
    c = _t(spark, sf_dir, "customer")
    band = (F.when(F.col("c_acctbal").isNull(), "unknown")
            .when(F.col("c_acctbal") < 0, "neg")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
    base = c.select("c_nationkey", "c_mktsegment",
                    band.alias("bal_band"))

    def level(lv, keys):
        cls = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        return cls.agg(
            F.lit(lv).cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("n").cast("long").alias("min_k"),
            F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
            .cast("long").alias("rows_below_k5"))

    l0 = level(0, ["c_nationkey", "c_mktsegment", "bal_band"])
    l1 = level(1, ["c_nationkey", "c_mktsegment"])
    l2 = level(2, ["c_nationkey"])
    return l0.unionAll(l1).unionAll(l2)


# ---------------------------------------------------------------------
# First-touch attribution — the opening counterpart of last-touch asof
# ---------------------------------------------------------------------

@query("events_first_touch", """
    WITH f AS (
      SELECT user_id, MIN(ts) AS first_ts
      FROM events WHERE event_type <> 'purchase' GROUP BY user_id),
    p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT p.user_id, p.ts, f.first_ts
      FROM p LEFT JOIN f
        ON f.user_id = p.user_id AND f.first_ts <= p.ts),
    c AS (
      SELECT CASE WHEN first_ts IS NULL THEN 'organic'
                  ELSE 'first_touch' END AS outcome,
             CASE WHEN first_ts IS NOT NULL
                  THEN (epoch_us(ts) - epoch_us(first_ts))
                       // 86400000000 ELSE 0 END AS lag_days
      FROM j)
    SELECT outcome, COUNT(*) AS n_purchases,
           CAST(SUM(lag_days) AS BIGINT) AS sum_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM c GROUP BY outcome
""")
def events_first_touch(spark, sf_dir):
    """FIRST-touch attribution — the opening-interaction counterpart
    of join_asof_attribution's last-touch model: each purchase
    attributes to the user's EARLIEST prior non-purchase touch (a
    per-user MIN, not a window scan), with conversion lag in whole
    days. The two models bracket every multi-touch scheme between
    them. One per-user aggregate broadcast against the purchase
    stream; integer-microsecond lag floor-divided to days."""
    ev = _events(spark, sf_dir)
    f = (ev.filter(F.col("event_type") != "purchase")
         .groupBy("user_id").agg(F.min("ts").alias("first_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts"))
    j = p.join(F.broadcast(f), ["user_id"], "left") \
        .withColumn("first_ts",
                    F.when(F.col("first_ts") <= F.col("ts"),
                           F.col("first_ts")))
    c = j.select(
        F.when(F.col("first_ts").isNull(), "organic")
        .otherwise("first_touch").alias("outcome"),
        F.when(F.col("first_ts").isNotNull(),
               F.expr("(unix_micros(ts) - unix_micros(first_ts))"
                      " div 86400000000")).otherwise(0)
        .alias("lag_days"))
    return (c.groupBy("outcome")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum("lag_days").cast("long").alias("sum_lag_days"),
                 F.max("lag_days").cast("long").alias("max_lag_days")))


# ---------------------------------------------------------------------
# Mann-Kendall S — the nonparametric trend statistic, integer-exact
# ---------------------------------------------------------------------

@query("stats_mann_kendall", """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders GROUP BY 1),
    pr AS (
      SELECT CASE WHEN b.c > a.c THEN 1
                  WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
      FROM d a JOIN d b ON a.day < b.day)
    SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(sgn) AS BIGINT) AS s_statistic,
           CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_concordant,
           CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_discordant,
           CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ties
    FROM pr
""")
def stats_mann_kendall(spark, sf_dir):
    """Mann-Kendall S for the daily order-count series: the sum of
    sign(c_j - c_i) over all later-vs-earlier day pairs — the
    nonparametric trend TEST statistic that pairs with Theil-Sen's
    slope ESTIMATE (stats_theilsen_trend), exact integers end to end
    (concordant/discordant/tie counts published so any variance
    formula can be applied downstream). The pair set is quadratic in
    DAYS, not rows: 100 TB of orders still collapses to a few thousand
    daily aggregates before the self-join (one broadcast of the tiny
    day series)."""
    d = (_t(spark, sf_dir, "orders")
         .groupBy(F.col("o_orderdate").cast("date").alias("day"))
         .agg(F.count(F.lit(1)).alias("c")))
    a = d.select(F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = d.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    pr = (a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
          .select(F.when(F.col("c2") > F.col("c1"), 1)
                  .when(F.col("c2") < F.col("c1"), -1)
                  .otherwise(0).alias("sgn")))
    n_days = d.count()
    return pr.agg(
        F.lit(n_days).cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("sgn").cast("long").alias("s_statistic"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("long")
        .alias("n_concordant"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).cast("long")
        .alias("n_discordant"),
        F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0)).cast("long")
        .alias("n_ties"))


# ---------------------------------------------------------------------
# Boilerplate prefixes — shared document openings (header detection)
# ---------------------------------------------------------------------

@query("docs_boilerplate_prefixes", """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE text IS NOT NULL),
    p AS (
      SELECT doc_id,
             array_to_string(toks[1:8], ' ') AS prefix
      FROM t WHERE len(toks) >= 8),
    fam AS (
      SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY prefix HAVING COUNT(*) >= 2)
    SELECT prefix, n_docs,
           CAST(row_number() OVER (ORDER BY n_docs DESC, prefix)
                AS INTEGER) AS rk
    FROM fam QUALIFY rk <= 20
""")
def docs_boilerplate_prefixes(spark, sf_dir):
    """Boilerplate-opening detection: documents sharing their first 8
    tokens verbatim (the header/template families a curation pipeline
    strips before dedup, since shared openings inflate shingle overlap
    without being content duplication). One prefix-string aggregate —
    only 8-token prefixes shuffle, never bodies — HAVING >= 2 keeps
    the families, top-20 by size via TakeOrderedAndProject.
    Complements text_dup_family_spectrum (whole-doc dupes) and
    dedup_repeated_spans (within-doc repeats) with the cross-doc
    PARTIAL-overlap case."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    p = (t.filter(F.size("toks") >= 8)
         .select(F.concat_ws(" ", F.slice("toks", 1, 8))
                 .alias("prefix")))
    fam = (p.groupBy("prefix")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
           .filter(F.col("n_docs") >= 2))
    top = fam.orderBy(F.col("n_docs").desc(), "prefix").limit(20)
    w = Window.orderBy(F.col("n_docs").desc(), "prefix")
    return top.select("prefix", "n_docs",
                      F.row_number().over(w).cast("int").alias("rk"))


# ---------------------------------------------------------------------
# Audio clipping audit — fullscale-sample detection per clip
# ---------------------------------------------------------------------

@query("multimodal_audio_clipping", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    s AS (SELECT i, j, ((i*31 + j*7) % 256 - 128) * 256 AS v
          FROM m, range(0, 112) t(j) WHERE j < 64 + i),
    a AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(CASE WHEN v <= -32768 OR v >= 32512
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      FROM s GROUP BY i)
    SELECT i AS media_id, n_samples, n_clipped,
           CAST(n_clipped * 1000 // n_samples AS BIGINT)
             AS clipped_permille
    FROM a
""")
def multimodal_audio_clipping(spark, sf_dir):
    """Audio-QA clipping audit: per clip, how many decoded PCM16
    samples sit at the format's rails (<= -32768 or at the
    synthesizer's positive fullscale 32512 = 127*256) — the
    distortion flag an ingestion gate raises before transcription
    wastes compute on clipped audio. Decode + integer rail comparison
    inside the Arrow batch (operators/multimodal.py::
    wav_clipping_stats); the closed-form oracle counts the same rails
    from the synthesis formula. Ratio in floor-permille."""
    from .operators.multimodal import synthesize_wav_media, wav_clipping_stats
    return wav_clipping_stats(synthesize_wav_media(spark, n=48),
                              lo=-32768, hi=32512)


# ---------------------------------------------------------------------
# Reorder-gap median — exact global order statistic over customer gaps
# ---------------------------------------------------------------------

@query("orders_reorder_gap_median", """
    WITH s AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             lag(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders),
    g AS (
      SELECT o_custkey,
             CAST(CAST(o_orderdate AS DATE) - CAST(prev AS DATE)
                  AS BIGINT) AS gap_days,
             o_orderdate, o_orderkey
      FROM s WHERE prev IS NOT NULL),
    r AS (
      SELECT gap_days,
             row_number() OVER (ORDER BY gap_days, o_custkey,
                                o_orderdate, o_orderkey) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM g)
    SELECT n AS n_gaps,
           CAST(gap_days AS BIGINT) AS median_gap_days
    FROM r WHERE rk = (n + 1) // 2
""")
def orders_reorder_gap_median(spark, sf_dir):
    """Reorder cadence: the exact LOWER-MEDIAN of all customer
    order-to-order gaps in whole days — the repeat-purchase rhythm a
    replenishment forecast is tuned to. Gaps come from a PARTITIONED
    per-customer lag; the global median is a STORED integer selected
    by rank (COVERAGE.md class 4 — never interpolated), and the rank
    comes from the two-pass global prefix scan, so no
    single-partition window ever sees the gap stream. Total order
    includes (custkey, date, orderkey) so the selected row is unique
    at any scale."""
    from .operators.twopass import ROW_COL, global_prefix
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    g = (o.select("o_custkey", "o_orderdate", "o_orderkey",
                  F.lag("o_orderdate").over(w).alias("prev"))
         .filter(F.col("prev").isNotNull())
         .select("o_custkey", "o_orderdate", "o_orderkey",
                 F.datediff(F.col("o_orderdate").cast("date"),
                            F.col("prev").cast("date"))
                 .cast("long").alias("gap_days")))
    ranked, n, _tot = global_prefix(
        g, [F.col("gap_days"), F.col("o_custkey"),
            F.col("o_orderdate"), F.col("o_orderkey")])
    med = (n + 1) // 2
    return (ranked.filter(F.col(ROW_COL) == med)
            .select(F.lit(n).cast("long").alias("n_gaps"),
                    F.col("gap_days").cast("long")
                    .alias("median_gap_days")))


# ---------------------------------------------------------------------
# CMS width curve — sketch error vs memory, the sizing table
# ---------------------------------------------------------------------

def _cms_leg_sql(w: int) -> str:
    return f"""
    SELECT CAST({w} AS INTEGER) AS width,
           CAST(SUM(c) AS BIGINT) AS total_exact,
           CAST(SUM(cm) AS BIGINT) AS total_estimate,
           CAST(SUM(cm - c) AS BIGINT) AS total_overestimate
    FROM (
      WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      exact AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
      rows_ AS (SELECT unnest(range(0, 4)) AS j),
      cells AS (
        SELECT j, ('0x' || substr(md5(j || ':' || tok), 1, 8))::BIGINT
                 % {w} AS bucket,
               COUNT(*) AS cell
        FROM tok, rows_ GROUP BY 1, 2),
      q AS (SELECT tok, c FROM exact ORDER BY c DESC, tok LIMIT 10)
      SELECT q.tok, q.c, MIN(cells.cell) AS cm
      FROM q
      JOIN rows_ ON TRUE
      JOIN cells ON cells.j = rows_.j
        AND cells.bucket =
            ('0x' || substr(md5(rows_.j || ':' || q.tok), 1, 8))::BIGINT
            % {w}
      GROUP BY q.tok, q.c)
"""


def _sketch_cms_width_curve(spark, sf_dir):
    """The count-min sizing table: total heavy-hitter overestimate at
    width 64 / 256 / 1024 (depth 4 fixed) — the error-vs-memory curve
    that picks a sketch configuration before deployment, the sketch
    counterpart of ann_recall_vs_nprobe. Error must be NON-INCREASING
    in width (wider rows -> fewer collisions; pinned in tests); every
    estimate is the md5-deterministic CM point query of the verified
    sketch_count_min entry, re-parameterized per leg."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("tok"))
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    q = exact.orderBy(F.col("c").desc(), F.col("tok")).limit(10)
    rows_ = F.sequence(F.lit(0), F.lit(3))
    legs = []
    for w in (64, 256, 1024):
        def bucket(j_col, tok_col, w=w):
            return (F.conv(F.substring(
                F.md5(F.concat(j_col.cast("string"), F.lit(":"),
                               tok_col)), 1, 8), 16, 10)
                .cast("long") % w)
        cells = (tok.select(F.explode(rows_).alias("j"), "tok")
                 .groupBy("j", bucket(F.col("j"), F.col("tok"))
                          .alias("bucket"))
                 .agg(F.count(F.lit(1)).alias("cell")))
        probes = (q.select("tok", "c", F.explode(rows_).alias("j"))
                  .withColumn("bucket",
                              bucket(F.col("j"), F.col("tok"))))
        est = (probes.join(cells, ["j", "bucket"])
               .groupBy("tok", "c").agg(F.min("cell").alias("cm")))
        legs.append(est.agg(
            F.lit(w).cast("int").alias("width"),
            F.sum("c").cast("long").alias("total_exact"),
            F.sum("cm").cast("long").alias("total_estimate"),
            F.sum(F.col("cm") - F.col("c")).cast("long")
            .alias("total_overestimate")))
    out = legs[0]
    for x in legs[1:]:
        out = out.unionAll(x)
    return out


query("sketch_cms_width_curve",
      " UNION ALL ".join(_cms_leg_sql(w) for w in (64, 256, 1024)))(
    _sketch_cms_width_curve)
