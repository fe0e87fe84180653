"""Round-7 catalog entries, third wave: robust statistics, sketch
algebra, and the privacy-diversity audit that complements k-anonymity.

The reference (/root/reference/ — a 313-line pandas ETL + FastAPI app,
etl/03_transform_and_load.py + api/first100.py) has none of these; they
extend the engine along the north-star axes (training-data curation,
release auditing, statistics at scale) under the repo's exactness
discipline:

- l-diversity publishes pure integer class/row counts;
- the KMV set-algebra entry derives union size AND Jaccard from ONE
  mergeable bottom-k sketch (md5-deterministic, so the estimates
  themselves value-hash), with the exact truth published as witness;
- Theil-Sen publishes the exact lower-median pairwise slope in integer
  micro-units, ranked by the two-pass global prefix scan so no
  single-partition window ever materializes;
- the Poisson bootstrap uses md5-derived deterministic Poisson(1)
  weights and publishes each replica mean as exact integer micro-cents
  via the split floor-division identity
  floor(a*1e6/n) = (a div n)*1e6 + ((a mod n)*1e6) div n,
  which never overflows BIGINT at any tested scale.

Every oracle integer SUM is CAST AS BIGINT (DuckDB types them HUGEINT,
which the driver's type-sensitive hash rejects — the round-5 lesson).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from .catalog import _events, _t, query
from .operators.twopass import ROW_COL, global_prefix
from .session import local_frame, scratch_dir


def _h32(prefix: str, col):
    """Deterministic 32-bit hash: first 8 hex chars of md5(prefix||col)
    as a BIGINT in [0, 2^32). Same recipe as sketch_kmv_distinct /
    privacy_dp_counts, so the Spark and DuckDB sides agree bit-for-bit.
    """
    return (F.conv(F.substring(
                F.md5(F.concat(F.lit(prefix), col.cast("string"))
                      .cast("binary")), 1, 8), 16, 10)
            .cast("long"))


_BAL_BAND_SQL = """CASE WHEN c_acctbal IS NULL THEN 'unknown'
              WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END"""


def _bal_band():
    return (F.when(F.col("c_acctbal").isNull(), "unknown")
            .when(F.col("c_acctbal") < 0, "neg")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("high"))


# ---------------------------------------------------------------------
# l-diversity audit — the sensitive-attribute twin of k-anonymity
# ---------------------------------------------------------------------

@query("privacy_l_diversity", f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             {_BAL_BAND_SQL} AS bal_band
      FROM customer),
    cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l
      FROM qi GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS below_l_classes,
           CAST(SUM(CASE WHEN l < 3 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_exposed
    FROM cls
""")
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit (l=3) over the customer quasi-identifier
    (nation, market segment) with the account-balance band as the
    sensitive attribute: a class that is k-anonymous but holds fewer
    than l distinct sensitive values still leaks (everyone in it shares
    the secret) — the classic follow-up to privacy_k_anonymity.
    Publishes #classes, the minimum diversity, and the classes/rows
    below l. All exact integers.

    Plan: one map-side-combined (QI, band) aggregate, then a class-level
    rollup — classes shuffle, never rows; count(DISTINCT band) expands
    to at most |band vocabulary| per class. Reference N/A."""
    qi = (_t(spark, sf_dir, "customer")
          .select("c_nationkey", "c_mktsegment", _bal_band()
                  .alias("bal_band")))
    cls = (qi.groupBy("c_nationkey", "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("sz"),
                F.countDistinct("bal_band").alias("l")))
    return cls.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("l").alias("min_l"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
         .alias("below_l_classes"),
        F.sum(F.when(F.col("l") < 3, F.col("sz")).otherwise(0))
         .alias("rows_exposed"))


# ---------------------------------------------------------------------
# KMV sketch ALGEBRA: union size + Jaccard from one bottom-k sketch
# ---------------------------------------------------------------------

@query("sketch_kmv_jaccard", """
    WITH el AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('kj:' || CAST(user_id * 100000 +
                       (CAST(ts AS DATE) - DATE '1970-01-01')
                     AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IN ('click', 'purchase')),
    flags AS (
      SELECT hv,
             CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS in_a,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS in_b
      FROM el GROUP BY hv),
    s AS (SELECT hv, in_a, in_b FROM flags ORDER BY hv LIMIT 128),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                 CAST(MAX(hv) AS BIGINT) AS kth_hash,
                 CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
          FROM s),
    tru AS (SELECT CAST(SUM(in_a * in_b) AS BIGINT) AS true_inter,
                   CAST(COUNT(*) AS BIGINT) AS true_union
            FROM flags)
    SELECT k_used, kth_hash,
           CAST((k_used - 1) * 4294967296 // kth_hash AS BIGINT)
             AS est_union,
           CAST(n_both * 1000000 // k_used AS BIGINT)
             AS est_jaccard_micros,
           true_inter, true_union,
           CAST(true_inter * 1000000 // true_union AS BIGINT)
             AS true_jaccard_micros
    FROM m CROSS JOIN tru
""")
def sketch_kmv_jaccard(spark, sf_dir):
    """KMV sketch ALGEBRA — the set-operation layer on top of
    sketch_kmv_distinct: estimate |A ∪ B| and Jaccard(A, B) between two
    behavioural sets (A = (user, day) pairs with a click, B = with a
    purchase) from ONE merged bottom-k sketch. The union sketch is the
    bottom-k of A ∪ B; Jaccard ≈ the fraction of its members present in
    both sets (Beyer et al.'s KMV set operations) — the trick that lets
    a 100 TB pipeline answer overlap questions between any two
    ingestion snapshots from kilobyte sketches instead of a re-scan.
    md5 makes the sketch deterministic, so the ESTIMATES value-hash;
    the exact intersection/union are published as accuracy witnesses.

    Plan: one scan builds per-element membership flags (map-side
    combined on the 8-byte hash), the bottom-128 is
    TakeOrderedAndProject (per-partition top-k, never a global sort),
    the witnesses ride the same flags aggregate. Reference N/A."""
    ev = (_events(spark, sf_dir)
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull()
                  & F.col("event_type").isin("click", "purchase")))
    el = ev.select(
        "event_type",
        _h32("kj:", F.col("user_id") * 100000
             + F.datediff(F.col("ts").cast("date"),
                          F.to_date(F.lit("1970-01-01")))).alias("hv"))
    flags = (el.groupBy("hv")
             .agg(F.max(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).cast("long").alias("in_a"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("long").alias("in_b")))
    s = flags.orderBy("hv").limit(128)
    m = s.agg(F.count(F.lit(1)).alias("k_used"),
              F.max("hv").alias("kth_hash"),
              F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"))
    tru = flags.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("true_inter"),
        F.count(F.lit(1)).alias("true_union"))
    return (m.crossJoin(F.broadcast(tru))
            .select("k_used", "kth_hash",
                    F.expr("(k_used - 1) * 4294967296 div kth_hash")
                    .cast("long").alias("est_union"),
                    F.expr("n_both * 1000000 div k_used")
                    .cast("long").alias("est_jaccard_micros"),
                    "true_inter", "true_union",
                    F.expr("true_inter * 1000000 div true_union")
                    .cast("long").alias("true_jaccard_micros")))


# ---------------------------------------------------------------------
# Theil-Sen robust trend — exact median pairwise slope, two-pass ranked
# ---------------------------------------------------------------------

@query("stats_theilsen_trend", """
    WITH d AS (
      SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY 1),
    p AS (
      SELECT a.day AS d1, b.day AS d2,
             (b.c - a.c) * 1000000 AS num, b.day - a.day AS den
      FROM d a JOIN d b ON b.day > a.day),
    sl AS (
      SELECT d1, d2,
             CAST((num - ((num % den) + den) % den) // den AS BIGINT)
               AS slope_micros
      FROM p),
    r AS (
      SELECT slope_micros, d1, d2,
             row_number() OVER (ORDER BY slope_micros, d1, d2) AS rk,
             COUNT(*) OVER () AS n_pairs
      FROM sl),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM d)
    SELECT nd.n_days, CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope_micros AS median_slope_micros,
           CAST(r.d1 AS BIGINT) AS arg_d1, CAST(r.d2 AS BIGINT) AS arg_d2
    FROM r CROSS JOIN nd
    WHERE r.rk = (r.n_pairs + 1) // 2
""")
def stats_theilsen_trend(spark, sf_dir):
    """Theil-Sen robust trend of the daily order count: the MEDIAN of
    all pairwise slopes (c_j - c_i)/(day_j - day_i), the estimator that
    shrugs off the outlier days that break the OLS fit
    (events_linear_trend). Exact end to end: slopes are published in
    floor-micro units via the sign-safe floor-division identity
    (a - ((a % b) + b) % b) / b — Spark's truncating `div` and DuckDB's
    flooring `//` agree on it for any sign — and the median is the
    exact lower median under the total order (slope, d1, d2).

    Plan + scale: the pair set is quadratic in DAYS (the aggregated
    series), not rows — 100 TB of orders still collapses to a few
    thousand daily aggregates before the self-join (one broadcast of
    the day series), and the median rank comes from the two-pass
    global prefix scan (operators/twopass.py), so no single-partition
    window ever materializes. Reference N/A."""
    d = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate").isNotNull())
         .groupBy(F.datediff(F.col("o_orderdate").cast("date"),
                             F.to_date(F.lit("1970-01-01"))).alias("day"))
         .agg(F.count(F.lit(1)).alias("c")))
    a = d.select(F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = d.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    p = a.join(F.broadcast(b), F.col("d2") > F.col("d1"))
    sl = p.select(
        "d1", "d2",
        F.expr("""(((c2 - c1) * 1000000)
                  - ((((c2 - c1) * 1000000) % (d2 - d1)) + (d2 - d1))
                    % (d2 - d1)) div (d2 - d1)""")
        .cast("long").alias("slope_micros"))
    ranked, n_pairs, _ = global_prefix(
        sl, [F.col("slope_micros"), F.col("d1"), F.col("d2")])
    n_days = d.count()
    return (ranked.filter(F.col(ROW_COL) == (n_pairs + 1) // 2)
            .select(F.lit(n_days).cast("long").alias("n_days"),
                    F.lit(n_pairs).cast("long").alias("n_pairs"),
                    F.col("slope_micros").alias("median_slope_micros"),
                    F.col("d1").cast("long").alias("arg_d1"),
                    F.col("d2").cast("long").alias("arg_d2")))


# ---------------------------------------------------------------------
# Deterministic Poisson bootstrap — replica means in exact micro-cents
# ---------------------------------------------------------------------

# floor(CDF_Poisson(1)(w) * 2^32) for w = 0..4; a 32-bit md5 hash below
# threshold[w] draws weight <= w. P(w = 5+) folds into the ELSE arm.
_POIS = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)

_POIS_SQL = f"""CASE WHEN u < {_POIS[0]} THEN 0
                WHEN u < {_POIS[1]} THEN 1
                WHEN u < {_POIS[2]} THEN 2
                WHEN u < {_POIS[3]} THEN 3
                WHEN u < {_POIS[4]} THEN 4
                ELSE 5 END"""


@query("stats_bootstrap_means", f"""
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
    e AS (
      SELECT b, cents,
             CAST(('0x' || substr(md5('boot:' ||
                     CAST(o_orderkey AS VARCHAR) || ':' ||
                     CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
      FROM o, (SELECT unnest(range(0, 32)) AS b) t),
    wt AS (SELECT b, cents, {_POIS_SQL} AS w FROM e),
    r AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
                 CAST(SUM(w * cents) AS BIGINT) AS sum_cents
          FROM wt GROUP BY b)
    SELECT CAST(b AS INTEGER) AS replica, n_eff,
           CAST((sum_cents // n_eff) * 1000000
                + ((sum_cents % n_eff) * 1000000) // n_eff AS BIGINT)
             AS mean_micro_cents
    FROM r
""")
def stats_bootstrap_means(spark, sf_dir):
    """Poisson bootstrap of the mean order value — the resampling
    scheme that actually works distributed (Chamandy et al.): instead
    of drawing n rows with replacement (which needs global coordination),
    each row independently joins replica b with weight ~ Poisson(1).
    Here the weights are DETERMINISTIC — a 32-bit md5 of (orderkey,
    replica) cut at the Poisson(1) CDF thresholds — so all 32 replica
    means are value-hashable; a production run swaps the hash for a
    seeded RNG and nothing else changes. Each replica mean is published
    in exact integer micro-cents via the split floor-division identity
    floor(a*1e6/n) = (a div n)*1e6 + ((a mod n)*1e6) div n (no
    intermediate ever exceeds BIGINT; all operands non-negative, so
    Spark `div` == DuckDB `//`). The confidence interval is the order
    statistics of these 32 rows — left to the consumer so no global
    sort is published.

    Plan: ONE scan of orders; the 32x explode is map-side combined into
    <= 32 partial rows per partition before the shuffle, so the
    aggregate moves O(32 x partitions) rows regardless of input size.
    Reference N/A."""
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_totalprice").isNotNull()
                 & F.col("o_orderkey").isNotNull())
         .select("o_orderkey",
                 F.floor(F.col("o_totalprice") * 100).cast("long")
                 .alias("cents")))
    e = o.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
        "o_orderkey")
    u = _h32("boot:", F.concat(F.col("o_orderkey").cast("string"),
                               F.lit(":"), F.col("b").cast("string")))
    w = (F.when(u < _POIS[0], 0).when(u < _POIS[1], 1)
         .when(u < _POIS[2], 2).when(u < _POIS[3], 3)
         .when(u < _POIS[4], 4).otherwise(5))
    r = (e.select(F.col("b"), (w * F.col("cents")).alias("wc"),
                  w.alias("w"))
         .groupBy("b")
         .agg(F.sum("w").alias("n_eff"), F.sum("wc").alias("sum_cents")))
    return r.select(
        F.col("b").cast("int").alias("replica"),
        "n_eff",
        (F.expr("sum_cents div n_eff") * 1000000
         + F.expr("(sum_cents % n_eff) * 1000000 div n_eff"))
        .cast("long").alias("mean_micro_cents"))


# ---------------------------------------------------------------------
# Image near-dup dedup: aHash fingerprints + Hamming-LSH band join
# ---------------------------------------------------------------------

@query("dedup_image_ahash_lsh", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h FROM m),
    px AS (SELECT i, w, h, x, y,
                  (i*7 + x*3 + y*5) % 256
                + (i*7 + x*3 + y*5 + 11) % 256
                + (i*7 + x*3 + y*5 + 22) % 256 AS lum
           FROM dims, range(0, 12) t1(x), range(0, 8) t2(y)
           WHERE x < w AND y < h),
    tot AS (SELECT i, CAST(SUM(lum) AS BIGINT) AS total,
                   COUNT(*) AS np
            FROM px GROUP BY i),
    bits AS (SELECT p.i, p.w, p.h, p.x, p.y,
                    CASE WHEN p.lum * t.np > t.total THEN 1 ELSE 0 END
                      AS b
             FROM px p JOIN tot t ON t.i = p.i),
    sig AS (SELECT i, w, h, y,
                   CAST(SUM(b * (1 << x)) AS BIGINT) AS rsig
            FROM bits GROUP BY i, w, h, y),
    cand AS (SELECT DISTINCT a.i AS ia, b.i AS ib, a.w, a.h
             FROM sig a JOIN sig b
               ON a.w = b.w AND a.h = b.h AND a.y = b.y
              AND a.rsig = b.rsig AND a.i < b.i),
    ham AS (SELECT c.ia, c.ib, c.w, c.h,
                   CAST(SUM(bit_count(xor(s1.rsig, s2.rsig)))
                        AS BIGINT) AS hd
            FROM cand c
            JOIN sig s1 ON s1.i = c.ia
            JOIN sig s2 ON s2.i = c.ib AND s2.y = s1.y
            GROUP BY c.ia, c.ib, c.w, c.h)
    SELECT ia AS id_a, ib AS id_b,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           hd AS hamming_bits
    FROM ham WHERE hd <= 16
""")
def dedup_image_ahash_lsh(spark, sf_dir):
    """IMAGE near-duplicate detection — the multimodal leg of the dedup
    family: real BMP payloads are pixel-decoded into average-hash
    (aHash) fingerprints whose per-scanline integers double as
    bit-sampling LSH bands for Hamming space. Candidate pairs come from
    an EQUI-join on (dims, row, row-signature) — images sharing any
    identical scanline pattern collide, all-pairs never happens — and
    survivors verify by exact Hamming distance (sum of
    bit_count(xor(row sigs))), kept at <= 16 differing bits. The
    synthesized corpus's closed-form pixels give the whole pipeline —
    decode, threshold, band, verify — an exact integer SQL oracle; on
    this corpus the bands recover 31 of the 35 true <=16-bit pairs (the
    4 misses share no identical row — the standard banding recall
    trade, measured the dedup_minhash_recall way).

    Scale: payload bytes never shuffle (mapInPandas emits O(height)
    scalar rows per image); the band join keys are 8-byte integers;
    verification touches candidates only. Operator:
    operators/multimodal.py::ahash_row_signatures. Reference N/A."""
    from .operators.multimodal import (ahash_row_signatures,
                                       synthesize_bmp_media)
    # the signature frame feeds three join legs (two band sides + the
    # verify leg); checkpoint it once so the Python decode runs once —
    # it is O(images x height) scalar rows, tiny at any corpus size
    sig = (ahash_row_signatures(synthesize_bmp_media(spark, n=48))
           .localCheckpoint())
    a = sig.select(F.col("media_id").alias("ia"), "width", "height",
                   "y", "rsig")
    b = sig.select(F.col("media_id").alias("ib"),
                   F.col("width").alias("wb"),
                   F.col("height").alias("hb"),
                   F.col("y").alias("yb"), F.col("rsig").alias("rb"))
    cand = (a.join(b, (F.col("width") == F.col("wb"))
                   & (F.col("height") == F.col("hb"))
                   & (F.col("y") == F.col("yb"))
                   & (F.col("rsig") == F.col("rb"))
                   & (F.col("ia") < F.col("ib")))
            .select("ia", "ib", "width", "height").distinct())
    s1 = sig.select(F.col("media_id").alias("ia"),
                    F.col("y").alias("vy"), F.col("rsig").alias("r1"))
    s2 = sig.select(F.col("media_id").alias("ib"),
                    F.col("y").alias("vy"), F.col("rsig").alias("r2"))
    ham = (cand.join(s1, "ia").join(s2, ["ib", "vy"])
           .groupBy("ia", "ib", "width", "height")
           .agg(F.sum(F.bit_count(F.expr("r1 ^ r2")))
                .cast("long").alias("hamming_bits")))
    return (ham.filter(F.col("hamming_bits") <= 16)
            .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                    "width", "height", "hamming_bits"))


# ---------------------------------------------------------------------
# BM25 ranked retrieval — exact rational scoring, top-k serve
# ---------------------------------------------------------------------

_BM25_TERMS = ("vector", "spark", "window")


@query("search_bm25_topk", f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
    tk AS (SELECT doc_id, w FROM toks WHERE w != ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tk GROUP BY doc_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_len
            FROM dl),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w),
    dfr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY w),
    sc AS (
      SELECT t.doc_id,
             CAST(CAST(88 * t.tf * o.total_len
                       * (2 * (o.n_docs - f.df) + 1) AS HUGEINT)
                  * 1000000
                  // ((40 * t.tf * o.total_len + 12 * o.total_len
                       + 36 * d.dl * o.n_docs) * (2 * f.df + 1))
                  AS BIGINT) AS s
      FROM tf t JOIN dl d ON d.doc_id = t.doc_id
                JOIN dfr f ON f.w = t.w
                CROSS JOIN tot o),
    agg AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_micros,
                   CAST(COUNT(*) AS BIGINT) AS n_terms_matched
            FROM sc GROUP BY doc_id)
    SELECT doc_id, score_micros, n_terms_matched
    FROM agg ORDER BY score_micros DESC, doc_id LIMIT 10
""")
def search_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval over the document corpus — the IR serving
    leg of the text family: score every document against the fixed
    3-term query {vector, spark, window} with k1=1.2, b=0.75 and return
    the top 10. EXACT arithmetic throughout: clearing denominators
    turns the tf saturation term into the integer ratio
    88*tf*L / (40*tf*L + 12*L + 36*dl*N), and the idf uses the
    RATIO form (N - df + 1/2)/(df + 1/2) = (2(N-df)+1)/(2df+1) — a
    monotone stand-in for the classic log idf, chosen because ln() is
    not bit-reproducible across engines (the text_collocations_pmi
    precedent). Per-term scores publish as floor-micros via a
    DECIMAL(38,0)/HUGEINT numerator (BIGINT would overflow at sf>=1)
    divided with Spark `div` == DuckDB `//` (quotient fits int64, where
    both are exact).

    Plan: one corpus scan feeds both the length table and the
    tf postings; df and the (N, L) scalars broadcast back onto the
    postings; the top-10 is TakeOrderedAndProject (per-partition
    top-k, never a global sort). Query-term postings are the only
    rows that shuffle. Reference N/A."""
    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()
                    & F.col("doc_id").isNotNull()))
    tk = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != ""))
    dl = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("dl").alias("total_len"))
    tf = (tk.filter(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    dfr = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    sc = (tf.join(dl, "doc_id")
          .join(F.broadcast(dfr), "w")
          .crossJoin(F.broadcast(tot))
          .select("doc_id",
                  F.expr("""CAST(CAST(88 * tf * total_len
                                 * (2 * (n_docs - df) + 1)
                                 AS DECIMAL(38,0)) * 1000000
                            div ((40 * tf * total_len + 12 * total_len
                                  + 36 * dl * n_docs) * (2 * df + 1))
                            AS BIGINT)""").alias("s")))
    agg = sc.groupBy("doc_id").agg(
        F.sum("s").alias("score_micros"),
        F.count(F.lit(1)).alias("n_terms_matched"))
    return (agg.orderBy(F.col("score_micros").desc(), F.col("doc_id"))
            .limit(10)
            .select("doc_id", "score_micros", "n_terms_matched"))


# ---------------------------------------------------------------------
# Watermark late-data accounting — the batch twin of a 1 h watermark
# ---------------------------------------------------------------------

@query("stream_late_arrivals", """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es
      FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        AND ts IS NOT NULL),
    w AS (
      SELECT event_type, es,
             MAX(es) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS hwm
      FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN hwm - es > 3600 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           CAST(MAX(CASE WHEN hwm > es THEN hwm - es ELSE 0 END)
                AS BIGINT) AS max_lateness_s
    FROM w GROUP BY event_type
""")
def stream_late_arrivals(spark, sf_dir):
    """Watermark late-data accounting — the deterministic batch twin of
    ``withWatermark("ts", "1 hour")``: within each user's ARRIVAL order
    (event_id, the ingestion sequence), an event whose event time
    trails the user's high-water mark by more than the 1 h watermark
    delay would have been dropped by the streaming job; this entry
    counts those drops per event type and the worst lateness observed —
    the audit a pipeline runs before choosing its watermark delay. The
    high-water mark is a per-user running MAX over rows 1-preceding, so
    the first arrival is never late. Exact integer epoch seconds
    (epoch_us // 1e6 == unix_timestamp, the events_resample_gapfill
    recipe).

    Plan: one scan, one partitioned window (state = one long per user,
    streams at any user cardinality), one map-side-combined rollup.
    The streaming twin is stream_sessionize's readStream shape with
    withWatermark; this batch form is what the driver can value-hash.
    Reference N/A."""
    from pyspark.sql import Window as W
    e = (_events(spark, sf_dir)
         .filter(F.col("event_id").isNotNull()
                 & F.col("user_id").isNotNull()
                 & F.col("ts").isNotNull())
         .select("event_id", "user_id", "event_type",
                 F.unix_timestamp("ts").cast("long").alias("es")))
    hwm = (W.partitionBy("user_id").orderBy("event_id")
           .rowsBetween(W.unboundedPreceding, -1))
    w = e.select("event_type", "es", F.max("es").over(hwm).alias("hwm"))
    return (w.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("hwm") - F.col("es") > 3600, 1)
                       .otherwise(0)).alias("n_late"),
                 F.max(F.when(F.col("hwm") > F.col("es"),
                              F.col("hwm") - F.col("es"))
                       .otherwise(0)).alias("max_lateness_s")))


# ---------------------------------------------------------------------
# AMS sign-sketch: second frequency moment (self-join size) estimate
# ---------------------------------------------------------------------

@query("sketch_ams_f2", """
    WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    s AS (
      SELECT j.j,
             CASE WHEN CAST(('0x' || substr(md5('ams:' ||
                      CAST(j.j AS VARCHAR) || ':' ||
                      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM e, (SELECT unnest(range(0, 16)) AS j) j),
    c AS (SELECT j, CAST(SUM(sgn) AS BIGINT) AS ctr FROM s GROUP BY j),
    est AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(ctr * ctr) // 16 AS BIGINT) AS est_f2
            FROM c),
    tru AS (SELECT CAST(SUM(cu * cu) AS BIGINT) AS true_f2
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cu
                  FROM e GROUP BY user_id))
    SELECT k, est_f2, true_f2 FROM est CROSS JOIN tru
""")
def sketch_ams_f2(spark, sf_dir):
    """AMS (Alon-Matias-Szegedy) sign sketch for the second frequency
    moment of user_id — i.e. the SELF-JOIN SIZE of events on user, the
    quantity a query optimizer needs to cost a skewed join without
    scanning twice. Each of k=16 estimators keeps one counter
    ctr_j = sum over rows of s_j(user), s_j = +/-1 from an md5 bit;
    E[ctr^2] = F2 exactly, and the published estimate is the integer
    mean of the 16 squares. Counters are plain sums — mergeable across
    partitions/sketches like the CM/HLL/KMV siblings — and md5 makes
    the estimate itself value-hashable. True F2 published as witness.

    Plan: the 16x replicate explode is map-side combined to <= 16
    partial rows per partition before the shuffle; the witness is one
    map-side-combined group-count. Reference N/A."""
    e = (_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
         .select("user_id"))
    s = e.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"))
    u = _h32("ams:", F.concat(F.col("j").cast("string"), F.lit(":"),
                              F.col("user_id").cast("string")))
    sgn = F.when(u % 2 == 0, 1).otherwise(-1)
    c = s.select("j", sgn.alias("sgn")).groupBy("j").agg(
        F.sum("sgn").alias("ctr"))
    est = c.agg(F.count(F.lit(1)).alias("k"),
                F.expr("sum(ctr * ctr) div 16").cast("long")
                .alias("est_f2"))
    tru = (e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cu"))
           .agg(F.sum(F.col("cu") * F.col("cu")).alias("true_f2")))
    return est.crossJoin(F.broadcast(tru)).select("k", "est_f2",
                                                  "true_f2")


# ---------------------------------------------------------------------
# Zone-map pruning — the READ side of the z-order layout entry
# ---------------------------------------------------------------------

@query("layout_zonemap_prune", """
    WITH z AS (
      SELECT c_custkey,
             CAST(c_nationkey % 16 AS BIGINT) AS nb,
             CAST(LEAST(GREATEST(CAST(floor(c_acctbal / 750) AS BIGINT),
                                 0), 15) AS BIGINT) AS ab
      FROM customer),
    zi AS (
      SELECT c_custkey, nb, ab,
             (nb & 1) | ((ab & 1) << 1)
           | (((nb >> 1) & 1) << 2) | (((ab >> 1) & 1) << 3)
           | (((nb >> 2) & 1) << 4) | (((ab >> 2) & 1) << 5)
           | (((nb >> 3) & 1) << 6) | (((ab >> 3) & 1) << 7) AS zval
      FROM z),
    st AS (
      SELECT zval // 16 AS zb,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(nb) AS BIGINT) AS mn,
             CAST(MAX(nb) AS BIGINT) AS mx,
             CAST(SUM(CASE WHEN nb = 7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matches
      FROM zi GROUP BY 1)
    SELECT CAST(zb AS BIGINT) AS zbucket, n_rows,
           CAST(CASE WHEN mn <= 7 AND 7 <= mx THEN 1 ELSE 0 END
                AS INTEGER) AS scanned,
           n_matches
    FROM st
""")
def layout_zonemap_prune(spark, sf_dir):
    """Zone-map PRUNING — the read side of layout_zorder_stats' write
    side: rebuild the 16 z-range zones over (nation bucket, balance
    bucket), keep each zone's min/max of the nation bucket, and decide
    per zone whether the predicate nb = 7 can skip it (skip iff
    7 outside [min, max] — the decision a parquet/lakehouse reader
    makes from footer stats before touching data pages). Publishes per
    zone: row count, the scan/skip decision, and the matching rows —
    so the oracle also proves COMPLETENESS (a skipped zone provably
    holds zero matches; min <= v <= max is implied by v's presence).

    Plan: one scan, one map-side-combined zone aggregate; the
    decision column is a scalar expression over the zone stats. At
    100 TB the zone table is O(files), the decision never reads data.
    Reference N/A."""
    c = _t(spark, sf_dir, "customer")
    nb = (F.col("c_nationkey") % 16).cast("long")
    ab = F.least(F.greatest(F.floor(F.col("c_acctbal") / 750)
                            .cast("long"), F.lit(0)), F.lit(15))
    z = c.select(nb.alias("nb"), ab.alias("ab"))
    zval = F.expr(
        "(nb & 1) | ((ab & 1) << 1) | (((nb >> 1) & 1) << 2)"
        " | (((ab >> 1) & 1) << 3) | (((nb >> 2) & 1) << 4)"
        " | (((ab >> 2) & 1) << 5) | (((nb >> 3) & 1) << 6)"
        " | (((ab >> 3) & 1) << 7)")
    st = (z.select("nb", zval.alias("zval"))
          .groupBy((F.col("zval") / 16).cast("long").alias("zbucket"))
          .agg(F.count(F.lit(1)).alias("n_rows"),
               F.min("nb").alias("mn"), F.max("nb").alias("mx"),
               F.sum(F.when(F.col("nb") == 7, 1).otherwise(0))
               .alias("n_matches")))
    return st.select(
        "zbucket", "n_rows",
        F.when((F.col("mn") <= 7) & (F.col("mx") >= 7), 1)
        .otherwise(0).cast("int").alias("scanned"),
        "n_matches")


# ---------------------------------------------------------------------
# Randomization (permutation) test — deterministic relabeling
# ---------------------------------------------------------------------

_PERM_M = ("CASE WHEN value IS NOT NULL AND NOT isnan(value) "
           "AND value >= 0 AND value < 1e12 "
           "THEN CAST(floor(value * 1000000.0) AS BIGINT) END")


@query("stats_permutation_test", f"""
    WITH base AS (
      SELECT event_id, event_type, {_PERM_M} AS m
      FROM events
      WHERE event_type IN ('click', 'purchase')
        AND event_id IS NOT NULL),
    b2 AS (SELECT event_id, event_type, m FROM base WHERE m IS NOT NULL),
    tot AS (
      SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
             CAST(COUNT(*) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN event_type = 'click' THEN m ELSE 0 END)
                  AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN m ELSE 0
                  END) AS BIGINT) AS sb
      FROM b2),
    obs AS (
      SELECT na, nt - na AS nb,
             CAST(abs(sa // na - sb // (nt - na)) AS BIGINT) AS stat_obs
      FROM tot),
    perm AS (
      SELECT j.j,
             CASE WHEN CAST(('0x' || substr(md5('perm:' ||
                      CAST(j.j AS VARCHAR) || ':' ||
                      CAST(e.event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  * t.nt < t.na * 4294967296 THEN 1 ELSE 0 END AS ga,
             e.m
      FROM b2 e CROSS JOIN tot t,
           (SELECT unnest(range(0, 32)) AS j) j),
    ps AS (
      SELECT j,
             CAST(SUM(ga) AS BIGINT) AS pna,
             CAST(SUM(1 - ga) AS BIGINT) AS pnb,
             CAST(SUM(ga * m) AS BIGINT) AS psa,
             CAST(SUM((1 - ga) * m) AS BIGINT) AS psb
      FROM perm GROUP BY j),
    stats AS (
      SELECT j, CASE WHEN pna > 0 AND pnb > 0
                     THEN abs(psa // pna - psb // pnb) END AS st
      FROM ps)
    SELECT o.na AS n_click, o.nb AS n_purchase,
           o.stat_obs AS stat_obs_micros,
           CAST(COUNT(s.st) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN s.st >= o.stat_obs THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ge
    FROM stats s CROSS JOIN obs o
    GROUP BY o.na, o.nb, o.stat_obs
""")
def stats_permutation_test(spark, sf_dir):
    """Randomization test for the click-vs-purchase mean value gap: 32
    deterministic relabelings (each row joins pseudo-group A iff its
    md5(replicate, event_id) hash falls below na/nt — the exact integer
    cross-multiplication u * nt < na * 2^32, no division) and the
    fraction of replicates whose |mean gap| reaches the observed one.
    The statistic is DEFINED as |floor(sA/nA) - floor(sB/nB)| in
    micro-units (values are non-negative by the guard, so Spark `div`
    == DuckDB `//`), making every replicate value-hashable; the
    consumer's p-value is (n_ge + 1)/(n_perms + 1). A production run
    swaps the hash for a seeded RNG — the plan is unchanged. This is
    the distribution-free sibling of stats_welch_ttest (parametric) and
    stats_mannwhitney_u (rank-based).

    Plan: ONE scan; the 32x replicate explode is map-side combined to
    <= 32 partial rows per partition (the stats_bootstrap_means shape);
    the observed statistic rides the same scan. Reference N/A."""
    m = F.when(F.col("value").isNotNull() & ~F.isnan(F.col("value"))
               & (F.col("value") >= 0) & (F.col("value") < 1e12),
               F.floor(F.col("value") * 1000000.0).cast("long"))
    b2 = (_events(spark, sf_dir)
          .filter(F.col("event_type").isin("click", "purchase")
                  & F.col("event_id").isNotNull())
          .select("event_id", "event_type", m.alias("m"))
          .filter(F.col("m").isNotNull()))
    tot = b2.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("na"),
        F.count(F.lit(1)).alias("nt"),
        F.sum(F.when(F.col("event_type") == "click", F.col("m"))
              .otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("m"))
              .otherwise(0)).alias("sb"))
    obs = tot.select(
        "na", (F.col("nt") - F.col("na")).alias("nb"),
        F.abs(F.expr("sa div na") - F.expr("sb div (nt - na)"))
        .cast("long").alias("stat_obs"))
    perm = (b2.select("event_id", "m",
                      F.explode(F.sequence(F.lit(0), F.lit(31)))
                      .alias("j"))
            .crossJoin(F.broadcast(tot.select("na", "nt"))))
    u = _h32("perm:", F.concat(F.col("j").cast("string"), F.lit(":"),
                               F.col("event_id").cast("string")))
    ga = F.when(u * F.col("nt") < F.col("na") * 4294967296, 1) \
          .otherwise(0)
    ps = (perm.select("j", "m", ga.alias("ga"))
          .groupBy("j")
          .agg(F.sum("ga").alias("pna"),
               F.sum(1 - F.col("ga")).alias("pnb"),
               F.sum(F.col("ga") * F.col("m")).alias("psa"),
               F.sum((1 - F.col("ga")) * F.col("m")).alias("psb")))
    stats = ps.select(
        F.when((F.col("pna") > 0) & (F.col("pnb") > 0),
               F.abs(F.expr("psa div pna") - F.expr("psb div pnb")))
        .alias("st"))
    return (stats.crossJoin(F.broadcast(obs))
            .groupBy(F.col("na").alias("n_click"),
                     F.col("nb").alias("n_purchase"),
                     F.col("stat_obs").alias("stat_obs_micros"))
            .agg(F.count("st").alias("n_perms"),
                 F.sum(F.when(F.col("st") >= F.col("stat_obs"), 1)
                       .otherwise(0)).alias("n_ge")))


# ---------------------------------------------------------------------
# Multi-source BFS over the co-purchase graph — exact hop levels
# ---------------------------------------------------------------------

@query("graph_bfs_levels", """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
    e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b AS src, a AS dst FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS n FROM e),
    d0 AS MATERIALIZED (SELECT n FROM nodes ORDER BY n LIMIT 5),
    d1 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS n FROM e JOIN d0 ON d0.n = e.src
      WHERE e.dst NOT IN (SELECT n FROM d0)),
    d2 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS n FROM e JOIN d1 ON d1.n = e.src
      WHERE e.dst NOT IN (SELECT n FROM d0)
        AND e.dst NOT IN (SELECT n FROM d1)),
    d3 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS n FROM e JOIN d2 ON d2.n = e.src
      WHERE e.dst NOT IN (SELECT n FROM d0)
        AND e.dst NOT IN (SELECT n FROM d1)
        AND e.dst NOT IN (SELECT n FROM d2)),
    lv AS (
      SELECT 0 AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d0
      UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT) FROM d1
      UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM d2
      UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM d3),
    reach AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS r FROM lv),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM nodes)
    SELECT CAST(dist AS INTEGER) AS dist, n_nodes FROM lv
    UNION ALL
    SELECT CAST(-1 AS INTEGER) AS dist, CAST(t - r AS BIGINT)
    FROM tot CROSS JOIN reach
""")
def graph_bfs_levels(spark, sf_dir):
    """Multi-source breadth-first search over the part co-purchase
    graph: the 5 lowest-id nodes seed the frontier, three expansion
    rounds assign each reached node its exact shortest-path level, and
    the published histogram counts nodes per level plus the unreached
    remainder (dist = -1) — the reachability/diameter probe run before
    choosing walk lengths for graph algorithms. Fixed rounds keep the
    state deterministic (the kcore_prune / pagerank_int discipline).

    Plan per round: one frontier equi-join + distinct + anti-join
    against the visited set — only (node, dist) pairs shuffle;
    localCheckpoint truncates lineage per round. The seed pick is
    TakeOrderedAndProject. Operator: operators/graph.py::bfs_levels.
    Reference N/A."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
    from .operators import graph as G
    edges = G.copurchase_edges(li).localCheckpoint()
    nodes = edges.select(F.col("src").alias("n")).distinct()
    sources = nodes.orderBy("n").limit(5)
    levels = G.bfs_levels(edges, sources, rounds=3)
    lv = (levels.groupBy("dist")
          .agg(F.count(F.lit(1)).alias("n_nodes")))
    n_total = nodes.count()
    n_reached = levels.count()
    # the oracle emits every level 0..rounds even when a frontier is
    # empty (COUNT over an empty set is still one 0 row) — mirror that
    grid = local_frame(spark, [(d,) for d in range(4)], "dist int")
    lv = (grid.join(lv, "dist", "left")
          .select("dist", F.coalesce("n_nodes", F.lit(0))
                  .cast("long").alias("n_nodes")))
    unreached = local_frame(
        spark, [(-1, n_total - n_reached)], "dist int, n_nodes long")
    return lv.select(F.col("dist").cast("int"), "n_nodes") \
             .union(unreached)


# ---------------------------------------------------------------------
# Join-size estimation from heavy-hitter histograms (planner stats)
# ---------------------------------------------------------------------

@query("stats_join_size_est", """
    WITH a AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
               FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    b AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
          FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
    ha AS (SELECT k, c FROM a ORDER BY c DESC, k LIMIT 20),
    hb AS (SELECT k, c FROM b ORDER BY c DESC, k LIMIT 20),
    hh AS (SELECT CAST(COALESCE(SUM(ha.c * hb.c), 0) AS BIGINT) AS hot
           FROM ha JOIN hb ON ha.k = hb.k),
    ra AS (SELECT CAST(SUM(c) AS BIGINT) AS rows_r,
                  CAST(COUNT(*) AS BIGINT) AS nd_r
           FROM a WHERE k NOT IN (SELECT k FROM ha)),
    rb AS (SELECT CAST(SUM(c) AS BIGINT) AS rows_s,
                  CAST(COUNT(*) AS BIGINT) AS nd_s
           FROM b WHERE k NOT IN (SELECT k FROM hb)),
    est AS (
      SELECT hh.hot,
             CAST(CASE WHEN COALESCE(ra.nd_r, 0) = 0
                         OR COALESCE(rb.nd_s, 0) = 0 THEN 0
                  ELSE ra.rows_r * rb.rows_s
                       // GREATEST(ra.nd_r, rb.nd_s) END AS BIGINT)
               AS cold
      FROM hh CROSS JOIN ra CROSS JOIN rb),
    tru AS (
      SELECT CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS true_size
      FROM a JOIN b ON a.k = b.k)
    SELECT hot AS est_hot, cold AS est_cold,
           CAST(hot + cold AS BIGINT) AS est_size, true_size
    FROM est CROSS JOIN tru
""")
def stats_join_size_est(spark, sf_dir):
    """Join-size estimation from per-side key statistics — what a
    cost-based optimizer does before picking broadcast vs shuffle vs
    skew-salting: the top-20 heavy hitters of each side join EXACTLY
    (hot term = sum of count products over shared hot keys), and the
    residual mass uses the System-R containment estimate
    rows_R * rows_S / max(ndv_R, ndv_S) in integer floor division.
    Estimated here: |events JOIN orders ON user_id = o_custkey| — two
    genuinely multi-cardinality sides with partial key overlap. The
    exact join size is published as the accuracy witness (the quantity
    the estimator exists to avoid computing at 100 TB).

    Plan: two map-side-combined key aggregates; heavy hitters are
    TakeOrderedAndProject (per-partition heaps); the residual scalars
    are one anti-join aggregate per side; nothing row-scale shuffles
    twice. Reference N/A."""
    a = (_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
         .groupBy(F.col("user_id").alias("k"))
         .agg(F.count(F.lit(1)).alias("c")))
    b = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_custkey").isNotNull())
         .groupBy(F.col("o_custkey").alias("k"))
         .agg(F.count(F.lit(1)).alias("c")))
    ha = a.orderBy(F.col("c").desc(), F.col("k")).limit(20) \
          .localCheckpoint()
    hb = b.orderBy(F.col("c").desc(), F.col("k")).limit(20) \
          .localCheckpoint()
    hh = (ha.alias("x").join(hb.alias("y"), "k")
          .agg(F.coalesce(F.sum(F.col("x.c") * F.col("y.c")), F.lit(0))
               .cast("long").alias("hot")))
    ra = (a.join(ha.select("k"), "k", "left_anti")
          .agg(F.sum("c").alias("rows_r"),
               F.count(F.lit(1)).alias("nd_r")))
    rb = (b.join(hb.select("k"), "k", "left_anti")
          .agg(F.sum("c").alias("rows_s"),
               F.count(F.lit(1)).alias("nd_s")))
    est = (hh.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
           .select("hot",
                   F.when((F.coalesce("nd_r", F.lit(0)) == 0)
                          | (F.coalesce("nd_s", F.lit(0)) == 0),
                          F.lit(0))
                   .otherwise(F.expr(
                       "(rows_r * rows_s) div greatest(nd_r, nd_s)"))
                   .cast("long").alias("cold")))
    tru = (a.alias("x").join(b.alias("y"), "k")
           .agg(F.coalesce(F.sum(F.col("x.c") * F.col("y.c")),
                           F.lit(0)).cast("long").alias("true_size")))
    return (est.crossJoin(F.broadcast(tru))
            .select(F.col("hot").alias("est_hot"),
                    F.col("cold").alias("est_cold"),
                    (F.col("hot") + F.col("cold")).cast("long")
                    .alias("est_size"),
                    "true_size"))


# ---------------------------------------------------------------------
# Dynamic partition overwrite — the idempotent-backfill sink primitive
# ---------------------------------------------------------------------

@query("sink_partition_overwrite", """
    WITH e AS (
      SELECT event_type, event_id FROM events
      WHERE event_type IS NOT NULL AND event_id IS NOT NULL)
    SELECT event_type,
           CAST(SUM(CASE WHEN event_type != 'click'
                           OR event_id % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_type != 'click'
                           OR event_id % 2 = 0
                         THEN event_id ELSE 0 END) AS BIGINT) AS id_sum
    FROM e GROUP BY event_type
    HAVING SUM(CASE WHEN event_type != 'click' OR event_id % 2 = 0
               THEN 1 ELSE 0 END) > 0
""")
def sink_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the idempotent-backfill sink a
    100 TB pipeline re-runs daily: generation 1 writes the full events
    table partitioned by event_type; generation 2 'corrects' ONLY the
    click partition (keeping even event_ids) with
    partitionOverwriteMode=dynamic, which replaces exactly the
    partitions present in the incoming frame and leaves every other
    partition's files untouched. The read-back per-partition counts and
    id-sums prove both halves: the click partition holds only the
    corrected rows, and no other partition changed. Static overwrite
    would have dropped them — that is the failure mode this mode
    exists to prevent.

    Both generations are written once per events input
    (session.scratch_dir) and reused by later calls, as the
    layout_bucketed_join layout is; at scale the write IS the
    pipeline. Partition values are non-null by filter so no
    __HIVE_DEFAULT_PARTITION__ leg. Reference N/A."""
    e = (_events(spark, sf_dir)
         .filter(F.col("event_type").isNotNull()
                 & F.col("event_id").isNotNull())
         .select("event_type", "event_id"))
    corrected = e.filter((F.col("event_type") == "click")
                         & (F.col("event_id") % 2 == 0))

    def write_generations(out):
        (e.write.mode("overwrite").partitionBy("event_type").parquet(out))
        (corrected.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("event_type").parquet(out))

    out = scratch_dir("dynpart_", write_generations,
                      [f"{sf_dir}/events.parquet"])
    # explicit schema so a 0-row generation (empty-input robustness)
    # reads back as an empty frame instead of failing inference
    back = spark.read.schema(e.schema).parquet(out)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("event_id").alias("id_sum")))


# ---------------------------------------------------------------------
# Matryoshka truncation recall — serve-dim evaluation for embeddings
# ---------------------------------------------------------------------

_COS_N_SQL = """list_reduce(list_transform(range(1, {n}),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, {n}),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, {n}),
                 i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
                 (x, y) -> x + y)))"""


@query("embed_matryoshka_recall", f"""
    WITH emb AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = 64),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM emb
          WHERE vec_id < 3),
    fullp AS (
      SELECT q.qid, e.vec_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY {_COS_N_SQL.format(n=65, a='q.qv',
                                           b='e.embedding')}
               DESC NULLS LAST, e.vec_id) AS rk
      FROM emb e JOIN q ON q.qid != e.vec_id),
    trp AS (
      SELECT q.qid, e.vec_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY {_COS_N_SQL.format(n=33, a='q.qv',
                                           b='e.embedding')}
               DESC NULLS LAST, e.vec_id) AS rk
      FROM emb e JOIN q ON q.qid != e.vec_id),
    ov AS (
      SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS overlap10
      FROM fullp f JOIN trp t ON t.qid = f.qid AND t.vec_id = f.vec_id
      WHERE f.rk <= 10 AND t.rk <= 10 GROUP BY f.qid)
    SELECT q.qid, CAST(10 AS INTEGER) AS k,
           CAST(COALESCE(ov.overlap10, 0) AS BIGINT) AS overlap10
    FROM q LEFT JOIN ov ON ov.qid = q.qid
""")
def embed_matryoshka_recall(spark, sf_dir):
    """Matryoshka / truncated-dimension serving evaluation: how much of
    the exact 64-dim cosine top-10 survives if the index serves only
    the FIRST 32 dimensions (the memory-halving trick
    matryoshka-trained embedders enable)? Publishes per query the
    integer overlap@10 between the full-dim and truncated-dim rankings
    — the number an embedding platform measures before shipping a
    lower-dim serving tier. Both legs rank by the order-pinned
    sequential cosine fold (the sim_topk_bruteforce recipe) with
    (sim DESC NULLS LAST, vec_id) total order, so the two top-10 SETS
    are engine-identical and the published count is exact even though
    the sims are floats.

    Plan: the 3-query batch broadcasts against the corpus twice (full
    and sliced vectors — the corpus never shuffles); ranking windows
    partition per query. The truncated leg is the cheap one at scale:
    half the floats per candidate. Reference N/A."""
    from .operators import similarity
    emb = (similarity.valid_vectors(
               _t(spark, sf_dir, "embeddings"), dim=64)
           .filter(F.col("vec_id").isNotNull())
           .select("vec_id", "embedding"))
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    full = similarity.topk_bruteforce(emb, q, k=10)
    emb32 = emb.select("vec_id",
                       F.slice("embedding", 1, 32).alias("embedding"))
    q32 = q.select("qid", F.slice("qv", 1, 32).alias("qv"))
    tr = similarity.topk_bruteforce(emb32, q32, k=10)
    ov = (full.select("qid", "vec_id")
          .join(tr.select("qid", "vec_id"), ["qid", "vec_id"])
          .groupBy("qid").agg(F.count(F.lit(1)).alias("overlap10")))
    return (q.select("qid").join(ov, "qid", "left")
            .select("qid", F.lit(10).cast("int").alias("k"),
                    F.coalesce("overlap10", F.lit(0)).cast("long")
                    .alias("overlap10")))


# ---------------------------------------------------------------------
# Right-to-be-forgotten erasure with a verifiable audit
# ---------------------------------------------------------------------

@query("privacy_erasure_audit", """
    WITH del AS (
      SELECT DISTINCT user_id FROM events
      WHERE user_id IS NOT NULL AND user_id % 37 = 0),
    flagged AS (
      SELECT e.event_type,
             CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END AS erased
      FROM events e LEFT JOIN del d ON d.user_id = e.user_id)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(erased) AS BIGINT) AS n_erased,
           CAST(SUM(1 - erased) AS BIGINT) AS n_after
    FROM flagged GROUP BY event_type
""")
def privacy_erasure_audit(spark, sf_dir):
    """Right-to-be-forgotten erasure with a verifiable audit: a
    deletion list (here: every 37th user — the stand-in for the DSR
    queue) anti-joins the fact table, and the audit publishes, per
    event type, rows before / erased / retained, with
    n_before = n_erased + n_after as the conservation witness. NULL
    user rows are retained (no subject, nothing to erase) — the
    LEFT-join flag encodes that without the NOT IN null trap.

    Plan: the deletion list is dimension-sized and broadcasts; the
    erasure pass is the same broadcast anti-join a 100 TB compaction
    job runs, and the audit rides it as one map-side-combined
    aggregate — the fact table is scanned once. Reference N/A."""
    ev = _events(spark, sf_dir)
    dl = (ev.filter(F.col("user_id").isNotNull()
                    & (F.col("user_id") % 37 == 0))
          .select("user_id").distinct())
    flagged = (ev.join(F.broadcast(dl.withColumn("_d", F.lit(1))),
                       "user_id", "left")
               .select("event_type",
                       F.when(F.col("_d").isNotNull(), 1).otherwise(0)
                       .alias("erased")))
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_before"),
                 F.sum("erased").alias("n_erased"),
                 F.sum(1 - F.col("erased")).alias("n_after")))


# ---------------------------------------------------------------------
# Capture-recapture population estimate (Chapman estimator)
# ---------------------------------------------------------------------

@query("stats_capture_recapture", """
    WITH seen AS (
      SELECT user_id,
             MAX(CASE WHEN (CAST(ts AS DATE) - DATE '1970-01-01') % 2
                      = 0 THEN 1 ELSE 0 END) AS s1,
             MAX(CASE WHEN (CAST(ts AS DATE) - DATE '1970-01-01') % 2
                      = 1 THEN 1 ELSE 0 END) AS s2
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id),
    c AS (SELECT CAST(SUM(s1) AS BIGINT) AS n1,
                 CAST(SUM(s2) AS BIGINT) AS n2,
                 CAST(SUM(s1 * s2) AS BIGINT) AS m,
                 CAST(COUNT(*) AS BIGINT) AS true_pop
          FROM seen)
    SELECT n1, n2, m,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
             AS est_pop,
           true_pop
    FROM c
""")
def stats_capture_recapture(spark, sf_dir):
    """Capture-recapture population estimation (Chapman's estimator):
    treat even-epoch-day activity as the first capture sample and
    odd-day activity as the second; the overlap m estimates the total
    user population as (n1+1)(n2+1)/(m+1) - 1 — the ecology-derived
    estimator a pipeline uses to size a population it never observes
    completely (total users, total distinct URLs) from two partial
    snapshots. Chapman's +1 terms make it zero-overlap-safe, and
    integer floor division keeps the published estimate exact
    cross-engine. The exact population rides the same aggregate as
    witness.

    Plan: one scan, one map-side-combined per-user flag aggregate
    (two bits of state per user), one scalar rollup. Reference N/A."""
    eday = F.datediff(F.col("ts").cast("date"),
                      F.to_date(F.lit("1970-01-01")))
    seen = (_events(spark, sf_dir)
            .filter(F.col("user_id").isNotNull()
                    & F.col("ts").isNotNull())
            .groupBy("user_id")
            .agg(F.max(F.when(eday % 2 == 0, 1).otherwise(0))
                 .alias("s1"),
                 F.max(F.when(eday % 2 == 1, 1).otherwise(0))
                 .alias("s2")))
    c = seen.agg(F.sum("s1").alias("n1"), F.sum("s2").alias("n2"),
                 F.sum(F.col("s1") * F.col("s2")).alias("m"),
                 F.count(F.lit(1)).alias("true_pop"))
    return c.select(
        "n1", "n2", "m",
        F.expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").cast("long")
        .alias("est_pop"),
        "true_pop")


# ---------------------------------------------------------------------
# Column concentration profile — Gini impurity, exactly rational
# ---------------------------------------------------------------------

@query("profile_column_gini", """
    WITH g1 AS (SELECT col_name,
                  CAST((SELECT COUNT(*) FROM events
                        WHERE event_type IS NOT NULL) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
                  CAST(SUM(c * c) AS BIGINT) AS sum_c2
           FROM (SELECT 'event_type' AS col_name, COUNT(*) AS c
                 FROM events WHERE event_type IS NOT NULL
                 GROUP BY event_type) GROUP BY col_name),
    g2 AS (SELECT col_name,
                  CAST((SELECT COUNT(*) FROM documents
                        WHERE lang IS NOT NULL) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
                  CAST(SUM(c * c) AS BIGINT) AS sum_c2
           FROM (SELECT 'lang' AS col_name, COUNT(*) AS c
                 FROM documents WHERE lang IS NOT NULL
                 GROUP BY lang) GROUP BY col_name),
    g3 AS (SELECT col_name,
                  CAST((SELECT COUNT(*) FROM documents
                        WHERE source IS NOT NULL) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
                  CAST(SUM(c * c) AS BIGINT) AS sum_c2
           FROM (SELECT 'source' AS col_name, COUNT(*) AS c
                 FROM documents WHERE source IS NOT NULL
                 GROUP BY source) GROUP BY col_name),
    allg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
             UNION ALL SELECT * FROM g3)
    SELECT col_name, n_rows, n_distinct,
           CAST(CASE WHEN n_rows > 0
                THEN (n_rows * n_rows - sum_c2) * 1000000
                     // (n_rows * n_rows) ELSE 0 END AS BIGINT)
             AS gini_micros
    FROM allg
""")
def profile_column_gini(spark, sf_dir):
    """Categorical-column concentration profile via GINI IMPURITY
    1 - sum((c_i/N)^2) = (N^2 - sum(c_i^2)) / N^2 — chosen over Shannon
    entropy precisely because it is EXACTLY RATIONAL (entropy's ln() is
    not bit-reproducible cross-engine), published in integer
    floor-micros. High gini = well-spread vocabulary, ~0 = a
    near-constant column — the profiling signal that drives dictionary
    encoding, partition-key choice, and training-mix balance checks.
    Covers events.event_type, documents.lang, documents.source.

    Plan: one map-side-combined value-count aggregate per column, then
    an O(distinct) rollup; only value counts shuffle. Reference N/A
    (the reference profiles with pandas df.describe, SURVEY.md A2).
    """

    def gini(df, col):
        c = (df.filter(F.col(col).isNotNull()).groupBy(col)
             .agg(F.count(F.lit(1)).alias("c")))
        return c.agg(
            F.lit(col).alias("col_name"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * F.col("c")).alias("sum_c2")).select(
            "col_name", "n_rows", "n_distinct",
            F.when(F.col("n_rows") > 0,
                   F.expr("""(n_rows * n_rows - sum_c2) * 1000000
                             div (n_rows * n_rows)"""))
            .otherwise(0).cast("long").alias("gini_micros"))

    ev = _events(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return (gini(ev, "event_type")
            .union(gini(docs, "lang"))
            .union(gini(docs, "source")))


# ---------------------------------------------------------------------
# Functional-dependency discovery — schema profiling for the catalog
# ---------------------------------------------------------------------

@query("profile_functional_deps", """
    WITH cand AS (
      SELECT 'c_custkey->c_mktsegment' AS dep,
             CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_lhs,
             CAST(COUNT(DISTINCT (CAST(c_custkey AS VARCHAR) || '|' ||
                   COALESCE(c_mktsegment, ''))) AS BIGINT) AS n_pairs
      FROM customer WHERE c_custkey IS NOT NULL
      UNION ALL
      SELECT 'c_nationkey->c_mktsegment',
             CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(c_nationkey AS VARCHAR) || '|' ||
                   COALESCE(c_mktsegment, ''))) AS BIGINT)
      FROM customer WHERE c_nationkey IS NOT NULL
      UNION ALL
      SELECT 'o_orderkey->o_orderstatus',
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(o_orderkey AS VARCHAR) || '|' ||
                   COALESCE(o_orderstatus, ''))) AS BIGINT)
      FROM orders WHERE o_orderkey IS NOT NULL
      UNION ALL
      SELECT 'o_custkey->o_orderpriority',
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(o_custkey AS VARCHAR) || '|' ||
                   COALESCE(o_orderpriority, ''))) AS BIGINT)
      FROM orders WHERE o_custkey IS NOT NULL)
    SELECT dep, n_lhs, n_pairs,
           CAST(CASE WHEN n_lhs = n_pairs THEN 1 ELSE 0 END AS INTEGER)
             AS holds
    FROM cand
""")
def profile_functional_deps(spark, sf_dir):
    """Functional-dependency DISCOVERY over candidate column pairs: the
    dependency A -> B holds exactly when |distinct A| =
    |distinct (A, B)| (every determinant value maps to one dependent
    value) — the profiling pass a catalog runs to find natural keys,
    denormalization opportunities, and broken invariants (a violated
    'key -> attribute' FD is a data bug). Candidates here mix true FDs
    (a primary key determines everything) with expected non-FDs
    (nation does not determine market segment); nulls on the dependent
    side coalesce to a sentinel so a null is one more value, not an
    ignored row.

    Plan: each candidate is a pair of map-side partial distinct
    aggregates over one scan of its table; only distinct keys shuffle.
    At 100 TB the same check runs on a sample first, exact-confirming
    survivors only. Reference N/A."""

    def fd(df, lhs, rhs, name):
        base = df.filter(F.col(lhs).isNotNull())
        pair = F.concat(F.col(lhs).cast("string"), F.lit("|"),
                        F.coalesce(F.col(rhs).cast("string"),
                                   F.lit("")))
        return base.agg(
            F.lit(name).alias("dep"),
            F.countDistinct(F.col(lhs)).alias("n_lhs"),
            F.countDistinct(pair).alias("n_pairs")).select(
            "dep", "n_lhs", "n_pairs",
            F.when(F.col("n_lhs") == F.col("n_pairs"), 1).otherwise(0)
            .cast("int").alias("holds"))

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (fd(cust, "c_custkey", "c_mktsegment",
               "c_custkey->c_mktsegment")
            .union(fd(cust, "c_nationkey", "c_mktsegment",
                      "c_nationkey->c_mktsegment"))
            .union(fd(orders, "o_orderkey", "o_orderstatus",
                      "o_orderkey->o_orderstatus"))
            .union(fd(orders, "o_custkey", "o_orderpriority",
                      "o_custkey->o_orderpriority")))


# ---------------------------------------------------------------------
# Referential-health dashboard — orphan audit across every FK edge
# ---------------------------------------------------------------------

@query("dq_referential_health", """
    WITH fks AS (
      SELECT 'orders.o_custkey->customer' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_child,
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM (SELECT o_custkey FROM orders
            WHERE o_custkey IS NOT NULL) o
      LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM (SELECT l_orderkey FROM lineitem
            WHERE l_orderkey IS NOT NULL) l
      LEFT JOIN orders p ON p.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM (SELECT l_partkey FROM lineitem
            WHERE l_partkey IS NOT NULL) l
      LEFT JOIN part p ON p.p_partkey = l.l_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM (SELECT l_suppkey FROM lineitem
            WHERE l_suppkey IS NOT NULL) l
      LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0
                  END) AS BIGINT)
      FROM (SELECT c_nationkey FROM customer
            WHERE c_nationkey IS NOT NULL) c
      LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0
                  END) AS BIGINT)
      FROM (SELECT s_nationkey FROM supplier
            WHERE s_nationkey IS NOT NULL) s
      LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey)
    SELECT fk, n_child, n_orphans,
           CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS INTEGER)
             AS healthy
    FROM fks
""")
def dq_referential_health(spark, sf_dir):
    """Referential-integrity DASHBOARD: one orphan audit per foreign-key
    edge of the star schema (orders->customer, lineitem->{orders, part,
    supplier}, {customer, supplier}->nation) — the nightly data-quality
    rollup that generalizes i2_fk_violations' single-edge check into
    the health view an on-call engineer reads. Publishes child
    cardinality, orphan count, and the pass flag per edge. NULL FKs are
    excluded (nullability is d1's validity check, not referential
    health).

    Plan: each edge is one LEFT join against a parent that is either
    dimension-sized (broadcast: customer, part, supplier, nation) or
    key-projected (orders), with a map-side-combined count rollup — the
    child fact table is scanned once per edge with only its key column
    read (columnar pruning). Reference: the FK relationships implied by
    /root/reference/etl/03_transform_and_load.py's star inserts.
    """

    def edge(child, ck, parent, pk, name):
        c = child.filter(F.col(ck).isNotNull()).select(ck)
        p = parent.select(F.col(pk).alias("_pk")).distinct()
        j = c.join(F.broadcast(p), F.col(ck) == F.col("_pk"), "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
            .alias("n_orphans")).select(
            "fk", "n_child", "n_orphans",
            F.when(F.col("n_orphans") == 0, 1).otherwise(0)
            .cast("int").alias("healthy"))

    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    return (edge(t("orders"), "o_custkey", t("customer"), "c_custkey",
                 "orders.o_custkey->customer")
            .union(edge(t("lineitem"), "l_orderkey", t("orders"),
                        "o_orderkey", "lineitem.l_orderkey->orders"))
            .union(edge(t("lineitem"), "l_partkey", t("part"),
                        "p_partkey", "lineitem.l_partkey->part"))
            .union(edge(t("lineitem"), "l_suppkey", t("supplier"),
                        "s_suppkey", "lineitem.l_suppkey->supplier"))
            .union(edge(t("customer"), "c_nationkey", t("nation"),
                        "n_nationkey", "customer.c_nationkey->nation"))
            .union(edge(t("supplier"), "s_nationkey", t("nation"),
                        "n_nationkey", "supplier.s_nationkey->nation")))


# ---------------------------------------------------------------------
# Inter-arrival time histogram — exact log2 buckets via bin() length
# ---------------------------------------------------------------------

@query("events_interarrival_hist", """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    g AS (
      SELECT event_type,
             es - lag(es) OVER (PARTITION BY user_id
                                ORDER BY es, event_type) AS gap
      FROM e),
    b AS (
      SELECT event_type, gap,
             CAST(length(bin(gap + 1)) AS INTEGER) AS bucket
      FROM g WHERE gap IS NOT NULL)
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(gap) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap) AS BIGINT) AS max_gap_s
    FROM b GROUP BY event_type, bucket
""")
def events_interarrival_hist(spark, sf_dir):
    """Inter-arrival-time distribution per event type in EXACT log2
    buckets: per-user consecutive gaps (event-time order with
    event_type tiebreak so ties are total), bucketed by the bit length
    of gap+1 — length(bin(x)) is the integer floor(log2(x)) + 1 on both
    engines, giving the doubling histogram (1 s, 2-3 s, 4-7 s, ...)
    that sessionization-gap and watermark-delay choices are read off,
    with zero float logarithms. Min/max gap per cell witness the
    bucket boundaries.

    Plan: one partitioned lag window (state = one row per user), one
    map-side-combined (type, bucket) aggregate — the doubling histogram
    has O(log range) cells per type regardless of input size.
    Reference N/A."""
    from pyspark.sql import Window as W
    e = (_events(spark, sf_dir)
         .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()
                 & F.col("event_type").isNotNull())
         .select("user_id", "event_type",
                 F.unix_timestamp("ts").cast("long").alias("es")))
    w = W.partitionBy("user_id").orderBy("es", "event_type")
    g = e.select("event_type",
                 (F.col("es") - F.lag("es").over(w)).alias("gap"))
    b = (g.filter(F.col("gap").isNotNull())
         .select("event_type", "gap",
                 F.length(F.bin(F.col("gap") + 1)).cast("int")
                 .alias("bucket")))
    return (b.groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("gap").alias("min_gap_s"),
                 F.max("gap").alias("max_gap_s")))


# ---------------------------------------------------------------------
# Kaplan-Meier survival table — repeat-purchase time-to-event
# ---------------------------------------------------------------------

@query("stats_survival_table", """
    WITH o AS (
      SELECT o_custkey,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        AND o_orderkey IS NOT NULL),
    horizon AS (SELECT MAX(d) AS dmax FROM o),
    cust AS (
      SELECT o.o_custkey,
             MAX(CASE WHEN rn = 1 THEN d END) AS d1,
             MAX(CASE WHEN rn = 2 THEN d END) AS d2
      FROM o GROUP BY o.o_custkey),
    t AS (
      SELECT CASE WHEN d2 IS NOT NULL
                  THEN LEAST((d2 - d1) // 7, 20)
                  ELSE LEAST((h.dmax - d1) // 7, 20) END AS w,
             CASE WHEN d2 IS NOT NULL AND (d2 - d1) // 7 < 20
                  THEN 1 ELSE 0 END AS ev
      FROM cust CROSS JOIN horizon h),
    cnt AS (
      SELECT w, CAST(SUM(ev) AS BIGINT) AS n_events,
             CAST(SUM(1 - ev) AS BIGINT) AS n_censored
      FROM t GROUP BY w),
    km AS (
      SELECT w, n_events, n_censored,
             CAST(SUM(n_events + n_censored)
                  OVER (ORDER BY w DESC) AS BIGINT) AS n_at_risk
      FROM cnt)
    SELECT CAST(w AS BIGINT) AS week, n_at_risk, n_events, n_censored
    FROM km
""")
def stats_survival_table(spark, sf_dir):
    """Kaplan-Meier life table for repeat purchase: per customer, the
    weeks from first to second order (event) or to the observation
    horizon (right-censored), capped at week 20. Publishes the KM
    table itself — per week: customers still at risk, second orders
    observed, censorings — all exact integers; the survival CURVE is
    the running product of (1 - d_w/n_w), left to the consumer because
    a float product is the one non-reproducible step. Censoring uses
    the global max order date as the horizon (administrative
    censoring), the standard retention-analysis shape.

    Plan: per-customer first/second pick is one partitioned window
    (state = 2 rows per customer); the at-risk column is a suffix sum
    over the <= 21 WEEK-BUCKET rows of the aggregated table — a
    bounded-aggregate window (the orders_revenue_concentration
    precedent), never a row-scale one. Reference N/A."""
    from pyspark.sql import Window as W
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_custkey").isNotNull()
                 & F.col("o_orderdate").isNotNull()
                 & F.col("o_orderkey").isNotNull())
         .select("o_custkey",
                 F.datediff(F.col("o_orderdate").cast("date"),
                            F.to_date(F.lit("1970-01-01"))).alias("d"),
                 "o_orderdate", "o_orderkey"))
    rn = F.row_number().over(
        W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
    ranked = o.withColumn("rn", rn).filter(F.col("rn") <= 2)
    cust = (ranked.groupBy("o_custkey")
            .agg(F.max(F.when(F.col("rn") == 1, F.col("d")))
                 .alias("d1"),
                 F.max(F.when(F.col("rn") == 2, F.col("d")))
                 .alias("d2")))
    horizon = o.agg(F.max("d").alias("dmax"))
    t = (cust.crossJoin(F.broadcast(horizon))
         .select(
             F.when(F.col("d2").isNotNull(),
                    F.least(F.expr("(d2 - d1) div 7"), F.lit(20)))
             .otherwise(F.least(F.expr("(dmax - d1) div 7"),
                                F.lit(20))).alias("w"),
             F.when(F.col("d2").isNotNull()
                    & (F.expr("(d2 - d1) div 7") < 20), 1)
             .otherwise(0).alias("ev")))
    cnt = (t.groupBy("w")
           .agg(F.sum("ev").alias("n_events"),
                F.sum(1 - F.col("ev")).alias("n_censored")))
    wsuf = W.orderBy(F.col("w").desc()) \
            .rowsBetween(W.unboundedPreceding, W.currentRow)
    return (cnt.withColumn(
                "n_at_risk",
                F.sum(F.col("n_events") + F.col("n_censored"))
                .over(wsuf).cast("long"))
            .select(F.col("w").cast("long").alias("week"),
                    "n_at_risk", "n_events", "n_censored"))


# ---------------------------------------------------------------------
# Markov stationary distribution — integer power iteration on the
# event-type transition chain
# ---------------------------------------------------------------------

_MARKOV_ROUND = """
    p{m} AS MATERIALIZED (
      SELECT tr.t AS s,
             CAST(SUM(p.pi * tr.c // tr.rs) AS BIGINT) AS pi
      FROM trans tr JOIN p{n} p ON p.s = tr.s
      GROUP BY tr.t)"""


@query("events_markov_stationary", """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL AND event_type IS NOT NULL),
    cnt AS (
      SELECT prev AS s, event_type AS t,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
    rsum AS (SELECT s, CAST(SUM(c) AS BIGINT) AS rs
             FROM cnt GROUP BY s),
    trans AS MATERIALIZED (
      SELECT cnt.s, cnt.t, cnt.c, rsum.rs
      FROM cnt JOIN rsum ON rsum.s = cnt.s),
    p0 AS MATERIALIZED (
      SELECT s, CAST(1000000 AS BIGINT) AS pi
      FROM (SELECT DISTINCT s FROM trans)),"""
    + ",".join(_MARKOV_ROUND.format(n=i, m=i + 1) for i in range(5))
    + """
    SELECT s AS event_type, pi AS pi_micros FROM p5
""")
def events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the user-behaviour Markov chain:
    count per-user consecutive event-type transitions, then run FIVE
    integer power-iteration rounds pi'(t) = sum_s (pi(s) * c_st) div
    rowsum(s) from the uniform start — the steady-state visit profile
    that weights states by where behaviour settles, not where it
    starts. The pagerank_int discipline end to end: BIGINT micro-unit
    mass with truncating division only (Spark `div` == DuckDB `//` on
    the non-negative operands), so the 5-round fixpoint value-hashes;
    truncation sheds < |states| micros of mass per round,
    deterministically on both engines.

    Plan: transition counts are one partitioned lag window + one
    map-side-combined aggregate; each iteration joins the
    |states|^2-row transition matrix against the |states|-row mass
    vector (both broadcast-sized for any realistic state vocabulary)
    and shuffles |states| rows. Fixed rounds keep the loop lazy — one
    pipelined job, no per-round checkpoint. Reference N/A."""
    from pyspark.sql import Window as W
    seq = (_events(spark, sf_dir)
           .filter(F.col("user_id").isNotNull()
                   & F.col("ts").isNotNull()
                   & F.col("event_id").isNotNull()
                   & F.col("event_type").isNotNull())
           .select("event_type",
                   F.lag("event_type").over(
                       W.partitionBy("user_id")
                       .orderBy("ts", "event_id")).alias("prev")))
    cnt = (seq.filter(F.col("prev").isNotNull())
           .groupBy(F.col("prev").alias("s"),
                    F.col("event_type").alias("t"))
           .agg(F.count(F.lit(1)).alias("c")))
    rsum = cnt.groupBy("s").agg(F.sum("c").alias("rs"))
    trans = cnt.join(rsum, "s").localCheckpoint()
    pi = (trans.select("s").distinct()
          .withColumn("pi", F.lit(1000000).cast("long")))
    for _ in range(5):
        pi = (trans.join(F.broadcast(pi), "s")
              .select(F.col("t"), F.expr("(pi * c) div rs").alias("m"))
              .groupBy("t").agg(F.sum("m").cast("long").alias("pi"))
              .select(F.col("t").alias("s"), "pi"))
    return pi.select(F.col("s").alias("event_type"),
                     F.col("pi").alias("pi_micros"))


# ---------------------------------------------------------------------
# Good-Turing unseen-mass estimate — LM smoothing statistics
# ---------------------------------------------------------------------

@query("text_good_turing", """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL),
    tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
           FROM toks WHERE w != '' GROUP BY w),
    cc AS (SELECT
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
           FROM tf)
    SELECT n_tokens, vocab, n1, n2,
           CAST(n1 * 1000000 // n_tokens AS BIGINT)
             AS unseen_mass_micros
    FROM cc
""")
def text_good_turing(spark, sf_dir):
    """Good-Turing unseen-mass estimate over the corpus vocabulary:
    the probability mass an LM should reserve for words it has never
    seen is N1/N (singleton types over total tokens — Good 1953), with
    the doubleton count N2 published alongside (the pair drives the
    full Good-Turing discount ladder). Exact integers end to end; the
    mass publishes as floor-micros. On a tiny closed vocabulary the
    singleton count collapses toward zero — exactly the signal that
    distinguishes a saturated corpus from an open-vocabulary one when
    sizing tokenizer and LM smoothing for a 100 TB text pipeline.

    Plan: one corpus scan -> token counts (map-side combined) -> one
    count-of-counts rollup; only the vocabulary shuffles.
    Reference N/A."""
    tf = (_t(spark, sf_dir, "documents")
          .filter(F.col("text").isNotNull())
          .select(F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    cc = tf.agg(F.sum("c").alias("n_tokens"),
                F.count(F.lit(1)).alias("vocab"),
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                .alias("n1"),
                F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
                .alias("n2"))
    return cc.select(
        "n_tokens", "vocab", "n1", "n2",
        F.expr("n1 * 1000000 div n_tokens").cast("long")
        .alias("unseen_mass_micros"))


# ---------------------------------------------------------------------
# Encoding-quality audit — mojibake / control-character screening
# ---------------------------------------------------------------------

@query("text_encoding_quality", """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(text,
                  '[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
           CAST(SUM(CASE WHEN text LIKE '%' || chr(65533) || '%'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement,
           CAST(SUM(CASE WHEN regexp_matches(text,
                  '[\\x{00C2}\\x{00C3}]')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake_marks
    FROM documents
    WHERE text IS NOT NULL AND source IS NOT NULL
    GROUP BY source
""")
def text_encoding_quality(spark, sf_dir):
    """Encoding-quality screening per source — the ingest gate that
    catches broken decode pipelines before they poison a training
    corpus: documents carrying raw C0 control characters (tab/LF/CR
    excluded), U+FFFD replacement characters (a decoder already gave
    up), or the U+00C2/U+00C3 marks characteristic of UTF-8 bytes
    re-decoded as Latin-1 (classic mojibake). Counts per source, all
    exact integers; a source with a spike fails ingest review.

    Plan: three narrow regex/contains predicates inside one map-side-
    combined per-source aggregate — one scan, no UDF, whole-stage
    codegen. Reference N/A (the reference ingests a known-clean CSV).
    """
    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()
                    & F.col("source").isNotNull()))
    ctrl = F.when(
        F.col("text").rlike("[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]"), 1) \
        .otherwise(0)
    repl = F.when(F.col("text").contains("�"), 1).otherwise(0)
    moji = F.when(F.col("text").rlike("[\\x{00C2}\\x{00C3}]"), 1) \
            .otherwise(0)
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(ctrl).alias("n_control"),
                 F.sum(repl).alias("n_replacement"),
                 F.sum(moji).alias("n_mojibake_marks")))


# ---------------------------------------------------------------------
# Sequence-completeness DQ — line numbers must be 1..n per order
# ---------------------------------------------------------------------

@query("dq_sequence_gaps", """
    WITH l AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL),
    per AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS nd,
             CAST(MIN(l_linenumber) AS BIGINT) AS mn,
             CAST(MAX(l_linenumber) AS BIGINT) AS mx
      FROM l GROUP BY l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN nd < n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_dupes,
           CAST(SUM(CASE WHEN mn != 1 OR mx != nd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_gaps,
           CAST(SUM(CASE WHEN nd = n AND mn = 1 AND mx = n
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contiguous
    FROM per
""")
def dq_sequence_gaps(spark, sf_dir):
    """Sequence-completeness audit: within each order, line numbers
    must be exactly 1..n — duplicates (count > distinct) and gaps
    (min != 1 or max != distinct) are each counted, the failure mode
    of retried/partially-applied multi-row writes that row counts
    alone never catch. One row out: orders total / with dupes / with
    gaps / fully contiguous. Exact integers.

    Plan: one map-side-combined per-order aggregate (count, distinct,
    min, max — the distinct expands per-order, bounded by line count),
    then a scalar rollup. Reference N/A."""
    per = (_t(spark, sf_dir, "lineitem")
           .filter(F.col("l_orderkey").isNotNull()
                   & F.col("l_linenumber").isNotNull())
           .groupBy("l_orderkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.countDistinct("l_linenumber").alias("nd"),
                F.min("l_linenumber").cast("long").alias("mn"),
                F.max("l_linenumber").cast("long").alias("mx")))
    return per.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("nd") < F.col("n"), 1).otherwise(0))
         .alias("n_with_dupes"),
        F.sum(F.when((F.col("mn") != 1) | (F.col("mx") != F.col("nd")),
                     1).otherwise(0)).alias("n_with_gaps"),
        F.sum(F.when((F.col("nd") == F.col("n")) & (F.col("mn") == 1)
                     & (F.col("mx") == F.col("n")), 1).otherwise(0))
         .alias("n_contiguous"))


# ---------------------------------------------------------------------
# Pareto frontier (skyline query) — bucket-pruned exact 2-D skyline
# ---------------------------------------------------------------------

@query("select_pareto_frontier", """
    WITH p AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
      WHERE p_partkey IS NOT NULL AND p_retailprice IS NOT NULL
        AND p_size IS NOT NULL)
    SELECT p_partkey, price_cents, size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_cents <= a.price_cents AND b.size <= a.size
        AND (b.price_cents < a.price_cents OR b.size < a.size))
""")
def select_pareto_frontier(spark, sf_dir):
    """Pareto frontier / SKYLINE query over parts on (price low, size
    low) — the multi-objective selection operator relational engines
    lack natively: a part survives iff no other part is at most as
    expensive AND at most as large with at least one strict
    improvement. The ORACLE states the semantics naively (NOT EXISTS a
    dominator); the Spark plan is the distributed two-phase skyline:
    (1) bucket prices, take each bucket's min size, and prefix-min
    over the BUCKET aggregates (bounded row count) — any part whose
    size is >= the min size of a strictly cheaper bucket is provably
    dominated and pruned without a comparison join; (2) the surviving
    candidates (frontier plus same-bucket collisions, orders of
    magnitude fewer than the input) verify dominance pairwise via a
    broadcast join. Sound because domination is transitive: every
    dominated row is dominated by a frontier member, and frontier
    members are never pruned. Exact integer coordinates (price in
    floor-cents), duplicates of a frontier point all survive (no
    strict improvement between them) — deterministic output set.

    Plan: one scan -> bucket aggregate (map-side combined) -> window
    over ~100 bucket rows -> broadcast candidate self-join.
    Reference N/A."""
    from pyspark.sql import Window as W
    p = (_t(spark, sf_dir, "part")
         .filter(F.col("p_partkey").isNotNull()
                 & F.col("p_retailprice").isNotNull()
                 & F.col("p_size").isNotNull())
         .select("p_partkey",
                 F.floor(F.col("p_retailprice") * 100).cast("long")
                 .alias("price_cents"),
                 F.col("p_size").cast("long").alias("size")))
    b = p.withColumn("b", F.expr("price_cents div 100"))
    bm = b.groupBy("b").agg(F.min("size").alias("bmin"))
    wch = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    cheaper = bm.withColumn("cheap_min", F.min("bmin").over(wch))
    cand = (b.join(F.broadcast(cheaper.select("b", "cheap_min")), "b")
            .filter(F.col("cheap_min").isNull()
                    | (F.col("size") < F.col("cheap_min")))
            .select("p_partkey", "price_cents", "size")
            .localCheckpoint())
    dom = cand.select(F.col("price_cents").alias("qp"),
                      F.col("size").alias("qs"))
    return cand.join(
        F.broadcast(dom),
        (F.col("qp") <= F.col("price_cents"))
        & (F.col("qs") <= F.col("size"))
        & ((F.col("qp") < F.col("price_cents"))
           | (F.col("qs") < F.col("size"))),
        "left_anti")


# ---------------------------------------------------------------------
# Cohort LTV matrix — acquisition month x age, exact revenue cents
# ---------------------------------------------------------------------

@query("orders_cohort_ltv", """
    WITH o AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        AND o_totalprice IS NOT NULL),
    first AS (
      SELECT o_custkey,
             MIN(year(d) * 12 + month(d)) AS m0
      FROM o GROUP BY o_custkey),
    cells AS (
      SELECT f.m0 AS cohort_month,
             (year(o.d) * 12 + month(o.d)) - f.m0 AS age_months,
             o.cents
      FROM o JOIN first f ON f.o_custkey = o.o_custkey)
    SELECT CAST(cohort_month AS BIGINT) AS cohort_month,
           CAST(age_months AS BIGINT) AS age_months,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM cells
    WHERE age_months <= 11
    GROUP BY cohort_month, age_months
""")
def orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix: customers are grouped by their
    acquisition month (first order) and revenue is laid out by age in
    months since acquisition, first year — the LTV triangle a growth
    team reads cumulative payback off (the cumulative sum is the
    consumer's fold; publishing per-cell keeps every value an exact
    integer and the output window-free). Extends
    events_retention_cohorts (activity counts) with the REVENUE
    dimension in exact floor-cents; months index as year*12+month so
    the age subtraction is pure integer arithmetic.

    Plan: first-order month is one map-side-combined min aggregate;
    the cohort join is cust-key equi (AQE-broadcastable at dimension
    scale); cells aggregate map-side. At 100 TB the matrix is
    O(months^2) rows regardless of input. Reference N/A."""
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_custkey").isNotNull()
                 & F.col("o_orderdate").isNotNull()
                 & F.col("o_totalprice").isNotNull())
         .select("o_custkey",
                 (F.year(F.col("o_orderdate").cast("date")) * 12
                  + F.month(F.col("o_orderdate").cast("date")))
                 .alias("m"),
                 F.floor(F.col("o_totalprice") * 100).cast("long")
                 .alias("cents")))
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    cells = (o.join(first, "o_custkey")
             .select(F.col("m0").alias("cohort_month"),
                     (F.col("m") - F.col("m0")).alias("age_months"),
                     "cents")
             .filter(F.col("age_months") <= 11))
    return (cells.groupBy(F.col("cohort_month").cast("long")
                          .alias("cohort_month"),
                          F.col("age_months").cast("long")
                          .alias("age_months"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("cents").alias("revenue_cents")))


# ---------------------------------------------------------------------
# Zipf rank-frequency table — corpus law check, exact integers
# ---------------------------------------------------------------------

@query("text_zipf_topk", """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL),
    tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
           FROM toks WHERE w != '' GROUP BY w),
    top AS (SELECT w, freq FROM tf ORDER BY freq DESC, w LIMIT 20),
    r AS (SELECT w, freq,
                 row_number() OVER (ORDER BY freq DESC, w) AS rank
          FROM top)
    SELECT CAST(rank AS BIGINT) AS rank, w AS term, freq,
           CAST(rank * freq AS BIGINT) AS rank_x_freq
    FROM r
""")
def text_zipf_topk(spark, sf_dir):
    """Zipf rank-frequency table for the corpus head: the top-20 terms
    with their ranks and the rank x frequency product — under Zipf's
    law the product is roughly constant, and systematic deviation is
    the fingerprint of template/boilerplate corpora (the thing a
    pretraining mix audit looks for). Total order (freq DESC, term)
    makes ranks deterministic; all integers, no log-log fit floats.

    Plan: token counts map-side combine; the top-20 is
    TakeOrderedAndProject; the rank window runs over 20 collected
    rows. Reference N/A."""
    from pyspark.sql import Window as W
    tf = (_t(spark, sf_dir, "documents")
          .filter(F.col("text").isNotNull())
          .select(F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    top = (tf.orderBy(F.col("freq").desc(), F.col("w")).limit(20)
           .localCheckpoint())
    r = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("freq").desc(),
                                              F.col("w"))))
    return r.select(F.col("rank").cast("long").alias("rank"),
                    F.col("w").alias("term"), "freq",
                    (F.col("rank") * F.col("freq")).cast("long")
                    .alias("rank_x_freq"))


# ---------------------------------------------------------------------
# Embedding centroid drift — train/serve skew monitor, exact integers
# ---------------------------------------------------------------------

@query("embed_centroid_drift", """
    WITH x AS (
      SELECT vec_id, label, vec_id % 2 AS half, i AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
               AS xm
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
      WHERE label IS NOT NULL AND vec_id IS NOT NULL
        AND len(embedding) = 64),
    s AS (
      SELECT label, half, pos,
             CAST(SUM(xm) AS BIGINT) AS sm,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM x GROUP BY label, half, pos),
    p AS (
      SELECT a.label, a.pos,
             a.sm AS s0, a.n AS n0, b.sm AS s1, b.n AS n1
      FROM s a JOIN s b
        ON b.label = a.label AND b.pos = a.pos
       AND a.half = 0 AND b.half = 1),
    d AS (
      SELECT label,
             CAST(MAX(n0) AS BIGINT) AS n_even,
             CAST(MAX(n1) AS BIGINT) AS n_odd,
             CAST(SUM(CAST((s0 * n1 - s1 * n0) AS HUGEINT)
                      * (s0 * n1 - s1 * n0)) AS HUGEINT)
               AS drift_sq_scaled
      FROM p GROUP BY label)
    SELECT label, n_even, n_odd,
           CAST(drift_sq_scaled // 1000000000000000000000000
                AS BIGINT) AS drift_sq_hi,
           CAST((drift_sq_scaled % 1000000000000000000000000)
                // 1000000000000 AS BIGINT) AS drift_sq_mid,
           CAST(drift_sq_scaled % 1000000000000 AS BIGINT)
                AS drift_sq_lo
    FROM d
""")
def embed_centroid_drift(spark, sf_dir):
    """Train/serve skew monitor for embeddings: per label, the squared
    distance between the centroid of the even-id half and the odd-id
    half of the corpus (the two-sample split standing in for
    yesterday's index vs today's traffic). EXACT arithmetic: values
    quantize to milli-units and the distance between the two RATIONAL
    means sums (s0*n1 - s1*n0)^2 per dimension — the cross-multiplied
    mean-difference that never divides (the embed_outlier_prune
    substitution, two-sample form), scaled by (n0*n1)^2. Exact
    128-bit/decimal internally, PUBLISHED as three BIGINT limbs
    (value = hi*1e24 + mid*1e12 + lo; base-1e12 limbs cover the whole
    decimal(38,0)/int128 range — see catalog_infer._limb_cols):
    DECIMAL(38,0) finals are not driver-hash-stable (DuckDB's pandas
    path renders them float64 — the r7 chi2 red). A label whose drift
    spikes between snapshots is re-indexed.

    Plan: posexplode shuffles (label, half, pos) cells once; the two
    halves align with one partial-aggregate equi-join; output is
    O(labels). Reference N/A."""
    from .catalog_infer import _limb_cols
    from .operators import similarity
    emb = (similarity.valid_vectors(
               _t(spark, sf_dir, "embeddings"), dim=64)
           .filter(F.col("label").isNotNull()
                   & F.col("vec_id").isNotNull())
           .filter(~F.exists("embedding", lambda v: v.isNull())))
    x = (emb.select("label", (F.col("vec_id") % 2).alias("half"),
                    F.posexplode("embedding").alias("pos", "val"))
         .select("label", "half", "pos",
                 F.floor(F.col("val").cast("double") * 1000)
                 .cast("long").alias("xm")))
    s = (x.groupBy("label", "half", "pos")
         .agg(F.sum("xm").alias("sm"), F.count(F.lit(1)).alias("n")))
    a = s.filter(F.col("half") == 0).select(
        "label", "pos", F.col("sm").alias("s0"), F.col("n").alias("n0"))
    b = s.filter(F.col("half") == 1).select(
        "label", "pos", F.col("sm").alias("s1"), F.col("n").alias("n1"))
    diff = (F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")) \
        .cast("decimal(19,0)")
    return (a.join(b, ["label", "pos"])
            .groupBy("label")
            .agg(F.max("n0").alias("n_even"),
                 F.max("n1").alias("n_odd"),
                 F.sum(diff * diff).cast("decimal(38,0)")
                 .alias("drift_sq_scaled"))
            .select("label", "n_even", "n_odd",
                    *_limb_cols("drift_sq_scaled", "drift_sq")))


# ---------------------------------------------------------------------
# Corrupt-record CSV ingestion — PERMISSIVE parse with quarantine
# ---------------------------------------------------------------------

@query("source_csv_corrupt_records", """
    WITH m AS (SELECT unnest(range(0, 100)) AS i),
    cls AS (
      SELECT i,
             CASE WHEN i % 7 = 3 THEN 'bad_type'
                  WHEN i % 7 = 5 THEN 'bad_arity'
                  ELSE 'good' END AS kind
      FROM m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN kind != 'good' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN kind = 'good' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN kind = 'good' THEN i * 3 + 50 ELSE 0 END)
                AS BIGINT) AS good_amount_cents
    FROM cls
""")
def source_csv_corrupt_records(spark, sf_dir):
    """PERMISSIVE CSV ingestion with a corrupt-record quarantine
    column: a deterministic 100-line fixture plants two malformation
    classes — a non-numeric amount (type violation) every i%7==3 and a
    wrong column count (arity violation) every i%7==5 — and the read
    carries them into `_corrupt_record` instead of failing the job or
    silently nulling fields. Publishes total/corrupt/good row counts
    and the exact cents sum of the rows that survive — the quarantine
    split every 100 TB CSV backfill needs (extends A1/A2's clean-file
    scan; reference /root/reference/etl/03_transform_and_load.py
    ingests a known-clean CSV). The oracle derives all four numbers in
    closed form from the planting rule.

    Plan: one file scan with an explicit schema (no inference pass);
    the fixture frame is cached before filtering because Spark
    disallows queries selecting ONLY the internal corrupt column from
    the raw scan. At scale the corrupt slice writes to a quarantine
    sink (etl_critical_quarantine's split)."""
    from pyspark.sql import types as T
    lines = ["id,name,amount"]
    for i in range(100):
        if i % 7 == 3:
            lines.append(f"{i},row{i},abc")           # type violation
        elif i % 7 == 5:
            lines.append(f"{i},row{i},{i*3+50},extra")  # arity violation
        else:
            lines.append(f"{i},row{i},{i*3+50}")
    path = scratch_dir("csv_corrupt_", lambda d: pathlib.Path(
        d, "rows.csv").write_text("\n".join(lines) + "\n")) + "/rows.csv"
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.LongType()),
        T.StructField("_corrupt_record", T.StringType()),
    ])
    from .opcache import cache as _opcache
    # registered cache: released when the entry's unit ends instead of
    # leaking one tiny parsed frame per invocation (.cache is REQUIRED
    # here - Spark computes _corrupt_record only on the materialized
    # parse, a recompute would re-read the file per aggregate)
    df = _opcache(spark.read.schema(schema)
                  .option("header", "true")
                  .option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", "_corrupt_record")
                  .csv(path))
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(~bad, 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(~bad, F.col("amount")).otherwise(0))
         .alias("good_amount_cents"))


# ---------------------------------------------------------------------
# Audio decimation round trip — the resample leg for the audio modality
# ---------------------------------------------------------------------

@query("multimodal_audio_decimate", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    s AS (SELECT i, (64 + i) // 2 AS hf,
                 list_transform(range(0, 64 + i),
                   j -> (((i * 31 + j * 7) % 256) - 128) * 256) AS a
          FROM m),
    h AS (SELECT i, hf,
                 list_transform(range(0, hf),
                   t -> (a[2 * t + 1] + a[2 * t + 2]) // 2) AS d
          FROM s)
    SELECT i AS media_id,
           4000 AS sample_rate,
           1 AS n_channels,
           CAST(hf AS BIGINT) AS n_frames,
           CAST(hf * 250 AS BIGINT) AS duration_us,
           CAST(list_max(list_transform(d, x -> abs(x))) AS BIGINT)
             AS peak_amplitude,
           CAST(list_sum(list_transform(d, x -> abs(x))) AS BIGINT)
             AS total_abs_amplitude
    FROM h
""")
def multimodal_audio_decimate(spark, sf_dir):
    """Audio RESAMPLE round trip — the decimate twin of
    multimodal_image_resize, completing decode / feature-extract /
    resize / sample across both pixel and PCM modalities: genuine
    RIFF/WAVE payloads are sample-decoded, 2:1 box-decimated with the
    EXACT integer filter floor((s_2t + s_2t+1)/2) (Python's flooring
    // matches DuckDB's // on signed samples; odd tail drops), then
    RE-ENCODED as real half-rate WAVs — payload-in/payload-out — and
    finally run through the standard decode_wav_features pass. Because
    the filter is integer-only, the decimated clip is
    bit-deterministic and this oracle computes the decoded features in
    closed form from the synthesis formula. Operator:
    operators/multimodal.py::decimate_wav_half.

    Plan: two chained mapInPandas passes (decimate, decode) — payload
    bytes never leave the executor; only O(clips) scalar feature rows
    shuffle. Reference N/A."""
    from .operators.multimodal import (decimate_wav_half,
                                       decode_wav_features,
                                       synthesize_wav_media)
    return decode_wav_features(
        decimate_wav_half(synthesize_wav_media(spark, n=48)))
