"""Round-7 catalog entries, second wave: statistical inference made
cross-engine exact, association mining, KMV distinct sketching, k-NN
label classification, storage-layout proofs (partition pruning, schema
merge), and the streaming-ingest dedup batch twin.

The reference (/root/reference/ — a 313-line pandas ETL + FastAPI app,
etl/03_transform_and_load.py + api/first100.py) has none of these; they
extend the engine along the north-star axes (training-data pipeline ops,
warehouse layout, streaming) with the repo's exactness discipline:

- rank statistics (Mann-Whitney U) ride the two-pass global prefix sum
  (operators/twopass.py) so NO single-partition window ever materializes,
  and tie handling is exact integer arithmetic (doubled rank sums);
- chi-square cells publish (O*N - r*c)^2 and r*c*N as DECIMAL(38,0) —
  the exact rational decomposition — instead of a float statistic whose
  cross-cell summation order differs between engines;
- autocorrelation publishes the exact integer numerator/denominator of
  r_k after mean-centering by the scale-free substitution
  (n*x_t - S), avoiding any division until the consumer chooses;
- PMI and lift publish floor((a*N*1e6)/(b*c)) micro-units via integer
  division (Spark ``div`` == DuckDB ``//`` on non-negative operands);
- the KMV bottom-k sketch is md5-deterministic, so the estimate itself
  is value-hashable.

Every Spark aggregate that the oracle mirrors with SUM() is CAST AS
BIGINT in the oracle — DuckDB types integer SUMs as HUGEINT (int128),
which the driver's type-sensitive hash rejects (the round-5 lesson).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _events, _t, query
from .operators import graph, similarity
from .operators.twopass import ROW_COL, SUM_COL, global_prefix
from .session import scratch_dir


def _vmicros(c):
    """Exact FLOOR-micro quantization of a double with the hostile-value
    guard (NaN/inf/|v|>=1e12 -> NULL) shared with catalog_iter."""
    d = c.cast("double")
    return F.when(~F.isnan(d) & (F.abs(d) < F.lit(1e12)),
                  F.floor(F.lit(1000000.0) * d).cast("long"))


_VMICROS_SQL = ("CASE WHEN value IS NOT NULL AND NOT isnan(value) "
                "AND abs(value) < 1e12 "
                "THEN CAST(floor(value * 1000000.0) AS BIGINT) END")


# ---------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) — exact integer rank statistics
# ---------------------------------------------------------------------

@query("stats_mannwhitney_u", f"""
    WITH ev AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
             {_VMICROS_SQL} AS v
      FROM events
      WHERE event_type IN ('purchase', 'view')),
    ok AS (SELECT a, v FROM ev WHERE v IS NOT NULL),
    g AS (
      SELECT v, COUNT(*) AS cnt, CAST(SUM(a) AS BIGINT) AS cnt_a
      FROM ok GROUP BY v),
    p AS (
      SELECT v, cnt, cnt_a,
             SUM(cnt) OVER (ORDER BY v) - cnt AS excl
      FROM g),
    s AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
             CAST(SUM(cnt_a * (2 * excl + cnt + 1)) AS BIGINT) AS r_a_x2,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cubes
      FROM p)
    SELECT n_a, n_b, r_a_x2,
           CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
           CAST(2 * n_a * n_b - (r_a_x2 - n_a * (n_a + 1)) AS BIGINT)
             AS u_b_x2,
           tie_cubes
    FROM s
""")
def stats_mannwhitney_u(spark, sf_dir):
    """Mann-Whitney U between 'purchase' and 'view' event values,
    published as EXACT integers: doubled rank sums (2R so tie-averaged
    ranks stay integral), both U statistics, and the tie-correction term
    sum(t^3 - t) a consumer needs for the normal approximation.

    Values are floor-quantized to micros (the repo's canonical exact
    double->int recipe) so rank order is identical in both engines.
    Ranks come from the two-pass global prefix sum over the DISTINCT-
    value frame — the full data is never globally windowed, and the
    distinct frame is range-partitioned, so no Exchange SinglePartition
    appears anywhere (the r4 scale-killer class). min-rank(v) =
    1 + (#rows < v) falls out of the exclusive prefix; the group's
    doubled rank sum is sum(cnt_a * (2*excl + cnt + 1)).

    At 100 TB: the shuffled payload after the first aggregation is the
    distinct-value vocabulary, not the corpus; pass-1 subtotals are
    O(partitions) rows on the driver. Reference N/A (no stats surface,
    /root/reference/etl/03_transform_and_load.py)."""
    ev = (_events(spark, sf_dir)
          .filter(F.col("event_type").isin("purchase", "view"))
          .select((F.col("event_type") == "purchase").cast("long")
                  .alias("a"),
                  _vmicros(F.col("value")).alias("v"))
          .filter(F.col("v").isNotNull()))
    g = ev.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"),
                            F.sum("a").alias("cnt_a"))
    ranked, _, _ = global_prefix(g, [F.col("v").asc()], sum_col="cnt")
    p = ranked.withColumn("excl", F.col(SUM_COL) - F.col("cnt")) \
              .drop(ROW_COL, SUM_COL)
    s = p.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n_b"),
        F.sum(F.col("cnt_a") * (2 * F.col("excl") + F.col("cnt") + 1))
         .alias("r_a_x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
         .alias("tie_cubes"))
    u_a = F.col("r_a_x2") - F.col("n_a") * (F.col("n_a") + 1)
    return s.select(
        "n_a", "n_b", "r_a_x2",
        u_a.alias("u_a_x2"),
        (2 * F.col("n_a") * F.col("n_b") - u_a).alias("u_b_x2"),
        "tie_cubes")


# ---------------------------------------------------------------------
# Chi-square independence cells — exact rational decomposition
# ---------------------------------------------------------------------

@query("stats_chi2_independence", f"""
    WITH ev AS (
      SELECT event_type AS et,
             CASE WHEN v < 30000000 THEN 'low'
                  WHEN v < 100000000 THEN 'mid'
                  ELSE 'high' END AS bucket
      FROM (SELECT event_type, {_VMICROS_SQL} AS v FROM events)
      WHERE v IS NOT NULL AND event_type IS NOT NULL),
    cell AS (SELECT et, bucket, CAST(COUNT(*) AS BIGINT) AS o_cnt
             FROM ev GROUP BY et, bucket),
    rt AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS row_total
           FROM ev GROUP BY et),
    ct AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS col_total
           FROM ev GROUP BY bucket),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev),
    j AS (
      SELECT c.et AS event_type, c.bucket, c.o_cnt,
             r.row_total, t.col_total, n.n_total,
             CAST(CAST(c.o_cnt AS HUGEINT) * n.n_total
                  - CAST(r.row_total AS HUGEINT) * t.col_total
                  AS DOUBLE) AS diff_d
      FROM cell c
      JOIN rt r ON r.et = c.et
      JOIN ct t ON t.bucket = c.bucket
      CROSS JOIN n)
    SELECT event_type, bucket, o_cnt, row_total, col_total, n_total,
           diff_d * diff_d AS chi2_num,
           CAST(CAST(row_total AS HUGEINT) * col_total * n_total
                AS DOUBLE) AS chi2_den
    FROM j
""")
def stats_chi2_independence(spark, sf_dir):
    """Chi-square test of independence (event_type x value bucket),
    published as the per-cell rational decomposition instead of a
    pre-summed float statistic: (O - E)^2/E == (O*N - r*c)^2 / (r*c*N),
    so each cell carries chi2_num = (O*N - r*c)^2 and chi2_den = r*c*N.
    Numeric recipe: diff = O*N - r*c is computed EXACTLY in wide
    integers (decimal(38,0) / HUGEINT — computing it in double would
    catastrophically cancel once O*N passes 2^53, i.e. exactly the
    near-null-hypothesis cells a chi-square exists to measure), cast
    ONCE to DOUBLE, then squared in double; den is the exact integer
    product cast once. Finals are DOUBLE because the r7 driver red
    proved DECIMAL(38,0) finals are NOT hash-stable (DuckDB's pandas
    path renders them float64 while Spark keeps exact Decimal); at
    driver scales every value is under 2^53 so the casts are exact and
    bit-identical cross-engine. No order-dependent float sums anywhere;
    a consumer sums num/den ratios per cell at whatever precision it
    wants.

    Plan: one narrow scan feeds four tiny aggregations (cells, row
    totals, col totals, grand total) joined broadcast — no windows, no
    re-scan of the raw data beyond what AQE dedupes. Reference N/A."""
    ev = (_events(spark, sf_dir)
          .select(F.col("event_type").alias("et"),
                  _vmicros(F.col("value")).alias("v"))
          .filter(F.col("v").isNotNull() & F.col("et").isNotNull())
          .withColumn("bucket",
                      F.when(F.col("v") < 30000000, "low")
                       .when(F.col("v") < 100000000, "mid")
                       .otherwise("high"))
          .select("et", "bucket"))
    cell = ev.groupBy("et", "bucket").agg(
        F.count(F.lit(1)).alias("o_cnt"))
    rt = ev.groupBy("et").agg(F.count(F.lit(1)).alias("row_total"))
    ct = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("col_total"))
    n = ev.agg(F.count(F.lit(1)).alias("n_total"))
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    diff_d = (d19("o_cnt") * F.col("n_total")
              - d19("row_total") * F.col("col_total")).cast("double")
    return (cell.join(F.broadcast(rt), "et")
            .join(F.broadcast(ct), "bucket")
            .crossJoin(F.broadcast(n))
            .select(F.col("et").alias("event_type"), "bucket", "o_cnt",
                    "row_total", "col_total", "n_total",
                    (diff_d * diff_d).alias("chi2_num"),
                    (d19("row_total") * F.col("col_total")
                     * F.col("n_total")).cast("double")
                    .alias("chi2_den")))


# ---------------------------------------------------------------------
# Autocorrelation of the daily event series — exact integer num/den
# ---------------------------------------------------------------------

@query("stats_acf_daily", """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s FROM d),
    den AS (
      SELECT CAST(SUM((tot.n * d.x - tot.s) * (tot.n * d.x - tot.s))
                  AS BIGINT) AS den_scaled
      FROM d CROSS JOIN tot),
    lags AS (SELECT * FROM (VALUES (1), (2), (3)) AS l(lag)),
    pairs AS (
      SELECT l.lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM((tot.n * a.x - tot.s) * (tot.n * b.x - tot.s))
                  AS BIGINT) AS num_scaled
      FROM lags l
      CROSS JOIN d a
      JOIN d b ON b.day = a.day + l.lag * INTERVAL 1 DAY
      CROSS JOIN tot
      GROUP BY l.lag)
    SELECT p.lag, tot.n AS n_days, p.n_pairs, p.num_scaled,
           den.den_scaled
    FROM pairs p CROSS JOIN tot CROSS JOIN den
""")
def stats_acf_daily(spark, sf_dir):
    """Autocorrelation of the daily event-count series at lags 1..3,
    published as EXACT integers: with n days and S = sum(x), the
    mean-centered products scale by n^2 — num_scaled(k) =
    sum((n*x_t - S)(n*x_{t+k} - S)) over the joined pairs and
    den_scaled = sum((n*x_t - S)^2), so acf_k = num/den exactly, and no
    double ever enters the plan. Gap days simply drop out of the lag
    join (documented: this is the sample ACF over observed adjacent
    pairs).

    Plan: the raw scan collapses to one row per day immediately; the
    lag joins and the grand totals all operate on the ~O(days) frame,
    broadcast-joined. At 100 TB the daily rollup IS the reduction —
    everything after it is kilobytes. Reference N/A."""
    ev = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    d = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
         .agg(F.count(F.lit(1)).alias("x")))
    tot = d.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dc = d.crossJoin(F.broadcast(tot))
    cen = F.col("n") * F.col("x") - F.col("s")
    den = dc.agg(F.sum(cen * cen).alias("den_scaled"))
    lags = ev.sparkSession.range(1, 4).select(
        F.col("id").cast("int").alias("lag"))
    a = dc.select("day", cen.alias("ca"))
    b = dc.select(F.col("day").alias("bday"), cen.alias("cb"))
    pairs = (a.crossJoin(F.broadcast(lags))
             .join(b, F.expr("bday = day + make_interval(0,0,0,lag)"))
             .groupBy("lag")
             .agg(F.count(F.lit(1)).alias("n_pairs"),
                  F.sum(F.col("ca") * F.col("cb")).alias("num_scaled")))
    return (pairs.crossJoin(F.broadcast(tot.select(
                F.col("n").alias("n_days"))))
            .crossJoin(F.broadcast(den))
            .select("lag", "n_days", "n_pairs", "num_scaled",
                    "den_scaled"))


# ---------------------------------------------------------------------
# k-NN label classification over embeddings — integer confusion matrix
# ---------------------------------------------------------------------

@query("embed_knn_classify", """
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS tl
      FROM embeddings WHERE vec_id % 10 = 0),
    c AS (
      SELECT vec_id, embedding, label
      FROM embeddings WHERE vec_id % 10 != 0 AND label IS NOT NULL),
    pairs AS (
      SELECT q.qid, q.tl, c.label, c.vec_id,
             list_reduce(list_transform(range(1, len(q.qv) + 1),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(
                    range(1, len(c.embedding) + 1),
                 i -> CAST(c.embedding[i] AS DOUBLE)
                      * CAST(c.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM q, c),
    nb AS (
      SELECT qid, tl, label,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS rk
      FROM pairs QUALIFY rk <= 5),
    votes AS (
      SELECT qid, tl, label, COUNT(*) AS c FROM nb GROUP BY 1, 2, 3),
    pred AS (
      SELECT qid, tl, label,
             row_number() OVER (PARTITION BY qid
                                ORDER BY c DESC, label) AS vr
      FROM votes QUALIFY vr = 1)
    SELECT tl AS true_label, label AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
""")
def embed_knn_classify(spark, sf_dir):
    """k-NN majority-vote label classification with a held-out test set
    (vec_id % 10 == 0), published as the integer confusion matrix
    (true_label, pred_label, n). Votes are 5-NN by exact cosine; ties
    break (votes DESC, label ASC) so the prediction is deterministic.
    The cosine uses the sequential left fold on both engines (the
    proven sim_topk_bruteforce recipe), making neighbor ranks — and
    therefore every downstream integer — cross-engine identical.

    Scale: queries broadcast against the corpus (the corpus never
    shuffles); the per-query window state is k rows. Swap the
    brute-force pair stage for the persisted ANN index serve
    (operators/ann_index.py) when the corpus outgrows it — the vote is
    unchanged. Unlabeled train rows are excluded from voting (a NULL
    can't vote, and engines disagree on NULL sort placement).
    Reference N/A."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") % 10 == 0)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv"),
                       F.col("label").alias("tl")))
    train = emb.filter((F.col("vec_id") % 10 != 0)
                       & F.col("label").isNotNull())
    nb = similarity.topk_bruteforce(
        train.select("vec_id", "embedding"),
        queries.select("qid", "qv"), k=5)
    nb = (nb.join(train.select("vec_id", "label"), "vec_id")
          .join(F.broadcast(queries.select("qid", "tl")), "qid"))
    votes = nb.groupBy("qid", "tl", "label").agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(),
                                          F.col("label").asc())
    pred = votes.withColumn("vr", F.row_number().over(w)) \
                .filter(F.col("vr") == 1)
    return (pred.groupBy(F.col("tl").alias("true_label"),
                         F.col("label").alias("pred_label"))
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — md5-deterministic estimate
# ---------------------------------------------------------------------

@query("sketch_kmv_distinct", """
    WITH h AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                           1, 8)) AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL),
    k AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
    kth AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                   CAST(MAX(hv) AS BIGINT) AS kth_hash
            FROM k),
    tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct FROM h)
    SELECT k_used, kth_hash,
           CAST((k_used - 1) * 4294967296 // kth_hash AS BIGINT)
             AS est_distinct,
           true_distinct
    FROM kth CROSS JOIN tru
""")
def sketch_kmv_distinct(spark, sf_dir):
    """KMV / bottom-k distinct-count sketch over user_id: hash every key
    with md5, keep the k=64 smallest 32-bit hash prefixes, estimate
    |distinct| = (k-1) * 2^32 / h_(k). Complements the HLL entry
    (sketch_hll_cardinality) with the OTHER classic mergeable
    cardinality sketch — bottom-k sets union by merge-and-truncate, so
    partial sketches combine associatively across partitions exactly
    like at 100 TB. md5 makes the sketch — and hence the estimate —
    deterministic and value-hashable; integer floor division keeps the
    published estimate exact cross-engine.

    Plan: dedup-by-hash is one map-side-combined shuffle of 8-byte
    hashes; the bottom-64 is TakeOrderedAndProject (per-partition
    top-k, never a global sort). true_distinct is published alongside
    as the accuracy witness (the thing the sketch avoids computing at
    scale). Reference N/A."""
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    h = (ev.select(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")
                                     .cast("binary")), 1, 8), 16, 10)
            .cast("long").alias("hv"))
         .distinct())
    k = h.orderBy("hv").limit(64)
    kth = k.agg(F.count(F.lit(1)).alias("k_used"),
                F.max("hv").alias("kth_hash"))
    tru = h.agg(F.count(F.lit(1)).alias("true_distinct"))
    return (kth.crossJoin(F.broadcast(tru))
            .select("k_used", "kth_hash",
                    F.expr("(k_used - 1) * 4294967296 div kth_hash")
                    .cast("long").alias("est_distinct"),
                    "true_distinct"))


# ---------------------------------------------------------------------
# PMI collocations over the document corpus — integer micro-PMI
# ---------------------------------------------------------------------

@query("text_collocations_pmi", """
    WITH toks AS (
      SELECT string_split(text, ' ') AS ws
      FROM documents WHERE text IS NOT NULL),
    big AS (
      SELECT p.w1 AS w1, p.w2 AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
            i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
        FROM toks) u
      WHERE p.w1 != '' AND p.w2 != ''),
    pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           FROM big GROUP BY w1, w2),
    lm AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x
           FROM pc GROUP BY w1),
    rm AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y
           FROM pc GROUP BY w2),
    n AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_big FROM pc),
    scored AS (
      SELECT p.w1, p.w2, p.c_xy, l.c_x, r.c_y,
             CAST(p.c_xy * n.n_big * 1000000 // (l.c_x * r.c_y)
                  AS BIGINT) AS pmi_ratio_micros
      FROM pc p JOIN lm l ON l.w1 = p.w1 JOIN rm r ON r.w2 = p.w2
      CROSS JOIN n
      WHERE p.c_xy >= 5)
    SELECT * FROM scored
    ORDER BY pmi_ratio_micros DESC, w1, w2 LIMIT 50
""")
def text_collocations_pmi(spark, sf_dir):
    """Top-50 PMI collocations (adjacent word pairs) over the corpus.
    Publishes the EXACT PMI ratio in micro-units —
    floor(1e6 * c_xy * N / (c_x * c_y)), the argument of the log — so
    no transcendental float is hashed; the marginals c_x/c_y are the
    bigram-table marginals (left/right occurrence counts), keeping the
    whole table self-consistent. min-support c_xy >= 5 bounds the
    scored vocabulary.

    Plan: tokenize + self-zip inside the row (slice/arrays_zip — no
    join builds bigrams), one map-side-combined shuffle to the pair
    vocabulary, marginals re-aggregate the PAIR table (not the corpus),
    broadcast back, TakeOrderedAndProject top-50. At 100 TB the only
    corpus-sized pass is the tokenizing scan. Reference N/A."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = (docs.select(F.split("text", " ").alias("ws"))
             .filter(F.size("ws") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(0, size(ws) - 2), "
                 "i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).alias("p"))
             .select("p.w1", "p.w2")
             .filter((F.col("w1") != "") & (F.col("w2") != "")))
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    pc = pc.localCheckpoint()
    lm = pc.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    rm = pc.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    n = pc.agg(F.sum("c_xy").alias("n_big"))
    return (pc.filter(F.col("c_xy") >= 5)
            .join(lm, "w1").join(rm, "w2")
            .crossJoin(F.broadcast(n))
            .select("w1", "w2", "c_xy", "c_x", "c_y",
                    F.expr("c_xy * n_big * 1000000 div (c_x * c_y)")
                    .cast("long").alias("pmi_ratio_micros"))
            .orderBy(F.col("pmi_ratio_micros").desc(), "w1", "w2")
            .limit(50))


# ---------------------------------------------------------------------
# Association rules over order baskets — integer lift/confidence
# ---------------------------------------------------------------------

@query("basket_association_lift", """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM op),
    item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM op GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3),
    scored AS (
      SELECT p.part_a, p.part_b, p.n_ab, ia.n_item AS n_a,
             ib.n_item AS n_b,
             CAST(p.n_ab * 1000000 // ia.n_item AS BIGINT)
               AS conf_a_to_b_micros,
             CAST(p.n_ab * tot.n_orders * 1000000
                  // (ia.n_item * ib.n_item) AS BIGINT) AS lift_micros
      FROM pair p
      JOIN item ia ON ia.l_partkey = p.part_a
      JOIN item ib ON ib.l_partkey = p.part_b
      CROSS JOIN tot)
    SELECT * FROM scored
    ORDER BY lift_micros DESC, part_a, part_b LIMIT 50
""")
def basket_association_lift(spark, sf_dir):
    """Association rules over order baskets: top-50 part pairs by LIFT,
    with confidence(A->B) — the scoring layer basket_part_pairs (raw
    support) stops short of. All measures publish as exact micro-unit
    integers: lift = P(ab)/(P(a)P(b)) = n_ab * n_orders / (n_a * n_b),
    floor-scaled by 1e6 (Spark ``div`` == DuckDB ``//`` on
    non-negative operands). Min-support n_ab >= 3 prunes the pair tail
    before the marginal joins.

    Plan: the basket self-join is keyed on l_orderkey (blow-up bounded
    by basket size, AQE-splittable); item marginals broadcast back onto
    the surviving pairs; TakeOrderedAndProject top-50. Reference N/A."""
    op = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey").isNotNull()
                  & F.col("l_partkey").isNotNull())
          .select("l_orderkey", "l_partkey").distinct())
    op = op.localCheckpoint()
    tot = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_b"))
    pair = (a.join(b, "ok").filter(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= 3))
    ia = item.select(F.col("l_partkey").alias("part_a"),
                     F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"),
                     F.col("n_item").alias("n_b"))
    return (pair.join(F.broadcast(ia), "part_a")
            .join(F.broadcast(ib), "part_b")
            .crossJoin(F.broadcast(tot))
            .select("part_a", "part_b", "n_ab", "n_a", "n_b",
                    F.expr("n_ab * 1000000 div n_a").cast("long")
                    .alias("conf_a_to_b_micros"),
                    F.expr("n_ab * n_orders * 1000000 div (n_a * n_b)")
                    .cast("long").alias("lift_micros"))
            .orderBy(F.col("lift_micros").desc(), "part_a", "part_b")
            .limit(50))


# ---------------------------------------------------------------------
# Streaming-ingest dedup, batch twin
# ---------------------------------------------------------------------

@query("stream_dedup_ingest", """
    WITH uniq AS (
      SELECT DISTINCT event_type, user_id, date_trunc('minute', ts) AS m
      FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique
    FROM uniq GROUP BY event_type
""")
def stream_dedup_ingest(spark, sf_dir):
    """Batch twin of streaming/windows.py::dedup_ingest_stream (the
    at-least-once redelivery collapse): dedup events on the delivery
    key (event_type, user_id, minute), then count survivors per type.
    Only the KEY COLUMNS and counts are published — which physical row
    survives a batch dropDuplicates is nondeterministic, so the entry's
    contract is the deterministic part (the surviving key set), exactly
    what the watermarked streaming variant also guarantees within its
    horizon. The streaming twin is pytest-exercised end-to-end
    (tests/test_streaming.py) with cross-micro-batch duplicates.

    Plan: dropDuplicates is one map-side-combined shuffle on the key
    triple; the per-type rollup reuses the deduped frame. At 100 TB the
    streaming variant holds only in-horizon keys in state — the batch
    twin shuffles keys, never payloads. Reference N/A."""
    ev = _events(spark, sf_dir)
    uniq = (ev.select("event_type", "user_id",
                      F.date_trunc("minute", "ts").alias("m"))
            .dropDuplicates(["event_type", "user_id", "m"]))
    return uniq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"))


# ---------------------------------------------------------------------
# Storage layout: hive-partitioned write + partition-pruned read
# ---------------------------------------------------------------------

@query("layout_partition_pruning", f"""
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS BIGINT) AS value_micros
    FROM (SELECT ts, {_VMICROS_SQL} AS v FROM events)
    -- NOT "IN (DATE ...)": DuckDB 1.0 mis-plans date IN-lists against
    -- a CAST(ts AS DATE) and matches zero rows; BETWEEN is equivalent
    -- here (3 consecutive dates) and binds correctly.
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
    GROUP BY 1
""")
def layout_partition_pruning(spark, sf_dir):
    """Hive-style partitioned layout + partition-pruned read: write
    events partitioned by event_date, read back filtering to 3 dates,
    and aggregate — the scan touches only 3 of ~30 partition
    directories (PartitionFilters, plan-asserted in
    tests/test_plans_infer.py). The partitioned copy is written once
    per events input (session.scratch_dir) and reused by later calls,
    as a lake writes a layout once and every downstream query reads it;
    the pruning is what makes a 100 TB date-ranged query read 0.1 TB.

    The aggregate values are exact (count + floor-micro sum), so the
    entry simultaneously proves the round trip loses nothing."""
    ev = _events(spark, sf_dir).withColumn(
        "event_date", F.col("ts").cast("date"))
    out = scratch_dir(
        "part_prune_",
        lambda d: ev.write.mode("overwrite")
        .partitionBy("event_date").parquet(d),
        [f"{sf_dir}/events.parquet"])
    # explicit schema: a 0-row upstream writes no partition dirs, and
    # schema inference over the bare _SUCCESS marker throws — the read
    # side of a partitioned layout must never depend on data presence
    back = spark.read.schema(ev.schema).parquet(out)
    return (back.filter(F.col("event_date")
                        .isin("2024-01-05", "2024-01-06", "2024-01-07"))
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(_vmicros(F.col("value"))).alias("value_micros")))


# ---------------------------------------------------------------------
# Source evolution: parquet mergeSchema across writer generations
# ---------------------------------------------------------------------

@query("source_parquet_mergeschema", """
    WITH v1 AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(NULL AS VARCHAR) AS o_priority
      FROM orders WHERE o_orderkey % 2 = 0),
    v2 AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderpriority AS o_priority
      FROM orders WHERE o_orderkey % 2 = 1),
    merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(o_priority, '<pre-evolution>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents
    FROM merged GROUP BY 1
""")
def source_parquet_mergeschema(spark, sf_dir):
    """Schema evolution across parquet writer generations: generation 1
    wrote (o_orderkey, price_cents); generation 2 added o_priority.
    Reading both with mergeSchema=true reconciles the footers — old
    files surface the new column as NULL — and the aggregate proves no
    row or cent is lost across the evolution boundary. Complements
    schema_drift_union (DataFrame-level union) with the STORAGE-level
    half: at 100 TB you cannot rewrite old files when a column lands,
    so footer-merge reads are how a lakehouse actually evolves.

    The two generations are written once per orders input
    (session.scratch_dir) and reused by later calls; cents are exact
    floor-scaled integers."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").isNotNull())
    cents = F.floor(F.col("o_totalprice").cast("double") * 100) \
             .cast("long").alias("price_cents")

    def write_generations(out):
        (orders.filter(F.col("o_orderkey") % 2 == 0)
         .select("o_orderkey", cents)
         .write.mode("overwrite").parquet(out + "/gen1"))
        (orders.filter(F.col("o_orderkey") % 2 == 1)
         .select("o_orderkey", cents,
                 F.col("o_orderpriority").alias("o_priority"))
         .write.mode("overwrite").parquet(out + "/gen2"))

    out = scratch_dir("mergeschema_", write_generations,
                      [f"{sf_dir}/orders.parquet"])
    back = (spark.read.option("mergeSchema", "true")
            .parquet(out + "/gen1", out + "/gen2"))
    return (back.groupBy(F.coalesce("o_priority",
                                    F.lit("<pre-evolution>"))
                         .alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("price_cents").alias("total_cents")))


# ---------------------------------------------------------------------
# k-core decomposition over the co-purchase graph (iterative, integer)
# ---------------------------------------------------------------------

_KCORE_ROUND = """
    k{n} AS MATERIALIZED (
      SELECT src FROM (
        SELECT src, COUNT(*) AS d FROM e{n} GROUP BY src)
      WHERE d >= 3),
    e{m} AS MATERIALIZED (
      SELECT e.src, e.dst
      FROM e{n} e JOIN k{n} a ON a.src = e.src
                  JOIN k{n} b ON b.src = e.dst)"""


@query("graph_kcore_decomposition", """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
    e0 AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs),"""
    + ",".join(_KCORE_ROUND.format(n=i, m=i + 1) for i in range(3))
    + """
    SELECT src AS part, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e3 GROUP BY src
""")
def graph_kcore_decomposition(spark, sf_dir):
    """3-core pruning (3 fixed rounds) of the part co-purchase graph:
    each round drops nodes with degree < 3 and restricts edges to the
    survivors — the classic peeling step whose fixpoint is the k-core.
    Fixed rounds keep the published state deterministic (the
    pagerank_int discipline); production iterates with the
    convergence guard of dedup.connected_components. Publishes each
    surviving node with its degree after round 3 — pure integer state,
    value-hash exact.

    Plan per round: one map-side-combined degree aggregation + two
    key-only join restrictions; localCheckpoint truncates lineage so
    the 3-round plan never compounds. Edges shuffle as (int, int)
    pairs. Reference N/A."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
    edges = graph.copurchase_edges(li)
    return (graph.kcore_prune(edges, k=3, rounds=3)
            .select(F.col("src").alias("part"), "deg"))


# ---------------------------------------------------------------------
# k-anonymity audit with a generalization ladder
# ---------------------------------------------------------------------

@query("privacy_k_anonymity", """
    WITH qi AS (
      SELECT c.c_custkey,
             c.c_nationkey,
             n.n_regionkey,
             c.c_mktsegment,
             CASE WHEN c.c_acctbal IS NULL THEN 'unknown'
                  WHEN c.c_acctbal < 0 THEN 'neg'
                  WHEN c.c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS bal_band
      FROM customer c LEFT JOIN nation n
        ON n.n_nationkey = c.c_nationkey),
    l0 AS (
      SELECT COUNT(*) AS sz
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band),
    l1 AS (
      SELECT COUNT(*) AS sz
      FROM qi GROUP BY n_regionkey, c_mktsegment, bal_band),
    s0 AS (
      SELECT 0 AS level, CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS at_risk_classes,
             CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_at_risk
      FROM l0),
    s1 AS (
      SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS at_risk_classes,
             CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_at_risk
      FROM l1)
    SELECT * FROM s0 UNION ALL SELECT * FROM s1
""")
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the customer quasi-identifier
    (nation, market segment, account-balance band), with one rung of
    the generalization ladder: level 0 keys on nation, level 1
    generalizes nation -> region (the standard suppression-vs-
    generalization trade a privacy-preserving training-data release
    makes). Publishes, per level: #equivalence classes, #classes below
    k, and #rows those classes expose. All exact integers.

    Plan: the QI projection is one broadcast dim join (nation);
    each level is a map-side-combined aggregate over class keys, then
    a 3-row rollup — the corpus is scanned once per level, classes
    (not rows) shuffle. At 100 TB the class vocabulary is the QI
    cross-product, orders of magnitude below the row count.
    Reference N/A."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    qi = (cust.join(F.broadcast(nat),
                    cust["c_nationkey"] == nat["n_nationkey"], "left")
          .withColumn("bal_band",
                      F.when(F.col("c_acctbal").isNull(), "unknown")
                       .when(F.col("c_acctbal") < 0, "neg")
                       .when(F.col("c_acctbal") < 5000, "mid")
                       .otherwise("high"))
          .select("c_nationkey", "n_regionkey", "c_mktsegment",
                  "bal_band"))

    def level(cols, lv):
        sz = qi.groupBy(*cols).agg(F.count(F.lit(1)).alias("sz"))
        return sz.agg(
            F.lit(lv).cast("int").alias("level"),
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
             .alias("at_risk_classes"),
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
             .alias("rows_at_risk")).select(
                 "level", "n_classes", "at_risk_classes", "rows_at_risk")

    return level(["c_nationkey", "c_mktsegment", "bal_band"], 0).union(
        level(["n_regionkey", "c_mktsegment", "bal_band"], 1))


# ---------------------------------------------------------------------
# Differentially-private-shaped counts (deterministic stand-in noise)
# ---------------------------------------------------------------------

@query("privacy_dp_counts", """
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type),
    z AS (
      SELECT event_type, true_count,
             CAST(('0x' || substr(md5('dp:' || event_type), 1, 8))
                  AS BIGINT) % 21 - 10 AS noise
      FROM c)
    SELECT event_type, true_count,
           CAST(noise AS BIGINT) AS noise,
           CAST(GREATEST(true_count + noise, 0) AS BIGINT)
             AS released_count
    FROM z
""")
def privacy_dp_counts(spark, sf_dir):
    """The release-side plumbing of a differentially-private count
    query: per-group counts + additive integer noise + clamping at
    zero. The noise here is a DETERMINISTIC md5-derived stand-in
    (uniform on [-10, 10]) so the entry is value-hashable and the
    plumbing — group, perturb, clamp, release — is provable; a real
    release swaps ONE expression for calibrated Laplace/geometric
    noise drawn from a secure source (sensitivity 1 per user-count
    here). true_count is published alongside as the verification
    witness, which a production release would of course drop.

    Plan: one map-side-combined count, noise is a narrow per-group
    expression — nothing beyond the aggregate shuffles.
    Reference N/A."""
    ev = (_events(spark, sf_dir)
          .filter(F.col("event_type").isNotNull())
          .groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("true_count")))
    noise = (F.conv(F.substring(
                 F.md5(F.concat(F.lit("dp:"), F.col("event_type"))
                       .cast("binary")), 1, 8), 16, 10)
             .cast("long") % 21 - 10)
    return ev.select(
        "event_type", "true_count", noise.alias("noise"),
        F.greatest(F.col("true_count") + noise, F.lit(0))
         .cast("long").alias("released_count"))


def _limb_cols(col: str, prefix: str):
    """Three BIGINT limbs (base 1e12) of a non-negative decimal(38,0)
    column: value = hi*1e24 + mid*1e12 + lo. Covers the ENTIRE
    decimal(38,0)/int128 range (hi <= ~1.7e14), unlike a two-limb
    base-1e9 split whose hi overflows BIGINT past ~9.2e27 with
    DIVERGENT behavior (Spark ``div`` -> NULL, DuckDB CAST -> error).
    The first division is by 1e24 DIRECTLY — ``div`` yields BIGINT, so
    dividing by 1e12 first would overflow the intermediate. The 1e24
    literal parses as DECIMAL(25,0) in Spark (too wide for a long),
    keeping the quotient path in decimal until the final bounded
    casts."""
    d24 = "1000000000000000000000000"   # 1e24 -> DECIMAL literal
    d12 = "1000000000000"               # 1e12 -> BIGINT literal
    return (
        F.expr(f"CAST({col} div {d24} AS BIGINT)").alias(f"{prefix}_hi"),
        F.expr(f"CAST(({col} % {d24}) div {d12} AS BIGINT)")
        .alias(f"{prefix}_mid"),
        F.expr(f"CAST({col} % {d12} AS BIGINT)").alias(f"{prefix}_lo"),
    )


# ---------------------------------------------------------------------
# Embedding outlier pruning — exact scaled integer distances
# ---------------------------------------------------------------------

@query("embed_outlier_prune", """
    WITH x AS (
      SELECT vec_id, label, i AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
               AS xm
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
      WHERE label IS NOT NULL AND vec_id IS NOT NULL
        AND len(embedding) = 64),
    s AS (
      SELECT label, pos, CAST(SUM(xm) AS BIGINT) AS sm,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM x GROUP BY label, pos),
    d AS (
      SELECT x.vec_id, x.label,
             CAST(SUM(CAST(s.n * x.xm - s.sm AS HUGEINT)
                      * (s.n * x.xm - s.sm)) AS HUGEINT)
               AS dist_sq_scaled
      FROM x JOIN s ON s.label = x.label AND s.pos = x.pos
      GROUP BY x.vec_id, x.label),
    r AS (
      SELECT vec_id, label, dist_sq_scaled,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist_sq_scaled DESC, vec_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY label) AS n_label
      FROM d)
    SELECT label, vec_id,
           CAST(dist_sq_scaled // 1000000000000000000000000
                AS BIGINT) AS dist_sq_hi,
           CAST((dist_sq_scaled % 1000000000000000000000000)
                // 1000000000000 AS BIGINT) AS dist_sq_mid,
           CAST(dist_sq_scaled % 1000000000000 AS BIGINT) AS dist_sq_lo
    FROM r WHERE rk <= (n_label + 9) // 10
""")
def embed_outlier_prune(spark, sf_dir):
    """Centroid-distance outlier pruning per label: drop the ~10%
    of vectors farthest from their own label's centroid — the
    curation step that cleans a labeled embedding corpus before
    training. EXACT integer arithmetic throughout: values quantize to
    milli-units, and the squared distance to the RATIONAL mean is
    computed scale-free as sum((n*x_i - s_i)^2) (the stats_acf_daily
    substitution) — exact 128-bit/decimal internally, PUBLISHED as
    three BIGINT limbs (value = hi*1e24 + mid*1e12 + lo) because
    DECIMAL(38,0) finals are not driver-hash-stable (DuckDB's pandas
    path renders them float64; the r7 chi2 red). Three base-1e12 limbs
    cover the ENTIRE decimal(38,0)/int128 range (hi <= ~1.7e14), so no
    input can overflow a limb — a two-limb base-1e9 split capped at
    ~9.2e27 with DIVERGENT overflow behavior (Spark div -> NULL,
    DuckDB cast -> error). The 10% cut uses ceil(n/10) with
    (dist DESC, vec_id) total order — boundary-deterministic.

    Plan: posexplode shuffles (label, pos) cells, the per-label
    centroid stats broadcast back onto the cells, ranks window over
    label partitions (state = label group, never global).
    Reference N/A."""
    emb = similarity.valid_vectors(
        _t(spark, sf_dir, "embeddings"), dim=64)         .filter(F.col("label").isNotNull() & F.col("vec_id").isNotNull())         .filter(~F.exists("embedding", lambda v: v.isNull()))
    x = (emb.select("vec_id", "label",
                    F.posexplode("embedding").alias("pos", "val"))
         .select("vec_id", "label", "pos",
                 F.floor(F.col("val").cast("double") * 1000)
                 .cast("long").alias("xm")))
    s = x.groupBy("label", "pos").agg(F.sum("xm").alias("sm"),
                                      F.count(F.lit(1)).alias("n"))
    diff = (F.col("n") * F.col("xm") - F.col("sm")).cast("decimal(19,0)")
    d = (x.join(F.broadcast(s), ["label", "pos"])
         .groupBy("vec_id", "label")
         .agg(F.sum(diff * diff).cast("decimal(38,0)")
              .alias("dist_sq_scaled")))
    nl = d.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    w = Window.partitionBy("label").orderBy(
        F.col("dist_sq_scaled").desc(), F.col("vec_id").asc())
    return (d.withColumn("rk", F.row_number().over(w))
            .join(F.broadcast(nl), "label")
            .filter(F.col("rk") <= (F.col("n_label") + 9) / 10)
            .select("label", "vec_id", *_limb_cols("dist_sq_scaled",
                                                   "dist_sq")))
