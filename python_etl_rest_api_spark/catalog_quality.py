"""Round-4 quality-filter pack: Gopher-style rule gates, a corpus
unigram-LM log-probability score (the perplexity-proxy quality signal
CCNet/Gopher-class pipelines filter on), distribution window functions
(percent_rank/cume_dist), and a distributed Gram-matrix primitive (the
X^T X building block for PCA / whitening / linear probes over the
embedding table).

The reference (a 313-line pandas/FastAPI technical test,
`etl/03_transform_and_load.py`) has no corpus surface; these extend the
documents/embeddings family under the repo's cross-engine exactness
recipe: integer token counts (exact), single IEEE divisions (exact,
correctly rounded in both engines), and where a float reduction's
ORDER is engine-dependent (numpy pairwise sums vs DuckDB sequential
sums, libm `ln` last-ulp divergence), publish at a rounded precision
with >=6 orders of magnitude of slack over the worst-case ordering
error - the stats_corr_pairs precedent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import _t, query
from .operators import twopass
from .session import local_frame
from .worker_imports import steady_zip_imports

# Stopwords chosen from the synthetic corpus vocabulary; the operator
# semantics (>=2 distinct stopwords present) mirror Gopher's "has at
# least 2 of a small stopword set" rule.
_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that")


# ---------------------------------------------------------------------
# Gopher-style quality rule gate
# ---------------------------------------------------------------------

@query("text_gopher_rules", """
    WITH feat AS (
      SELECT doc_id,
             string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n_words,
             CAST(list_sum(list_transform(string_split(text, ' '),
                                          w -> len(w))) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS unique_ratio,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','to','and','in',
                                     'is','that'], w) )) AS stop_hits,
             len(list_distinct(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','to','and','in',
                                     'is','that'], w)))) AS stop_distinct,
             len(list_filter(string_split(text, ' '),
                 w -> NOT regexp_matches(w, '^[a-z]+$')))
               AS nonalpha_words
      FROM documents)
    SELECT doc_id, n_words, mean_word_len, unique_ratio,
           stop_distinct, nonalpha_words,
           (n_words BETWEEN 20 AND 100000)       AS r_word_count,
           (mean_word_len BETWEEN 2.0 AND 10.0)  AS r_mean_word_len,
           (unique_ratio >= 0.1)                 AS r_unique_ratio,
           (stop_distinct >= 2)                  AS r_stopwords,
           (CAST(nonalpha_words AS DOUBLE) / n_words <= 0.1)
                                                 AS r_symbol_ratio,
           ((n_words BETWEEN 20 AND 100000)
            AND (mean_word_len BETWEEN 2.0 AND 10.0)
            AND (unique_ratio >= 0.1)
            AND (stop_distinct >= 2)
            AND (CAST(nonalpha_words AS DOUBLE) / n_words <= 0.1))
                                                 AS passes
    FROM feat
""")
def text_gopher_rules(spark, sf_dir):
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1 rule
    shapes re-expressed for this corpus): word-count bounds, mean word
    length bounds, unique-token ratio, >=2 distinct stopwords, and a
    non-alphabetic word-ratio ceiling, each published as its own flag
    plus the conjunction - downstream curation filters on `passes` but
    dashboards need the per-rule failure mix.

    All features are integer counts or a SINGLE int/int IEEE division
    (correctly rounded, bit-identical across engines), so the entry is
    value-hash exact with no rounding. Plan: one narrow whole-stage
    codegen projection over the text column - no UDF, no shuffle, no
    explode (the token aggregates fold arrays in place); at 100 TB this
    is a pure map over the corpus scan with predicate-pushdown-friendly
    output."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    feat = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        (F.aggregate(F.transform(toks, F.length), F.lit(0),
                     lambda a, x: a + x).cast("double")
         / F.size(toks)).alias("mean_word_len"),
        (F.size(F.array_distinct(toks)).cast("double")
         / F.size(toks)).alias("unique_ratio"),
        F.size(F.array_distinct(
            F.filter(toks, lambda w: F.array_contains(sw, w)))
        ).alias("stop_distinct"),
        F.size(F.filter(toks, lambda w: ~w.rlike("^[a-z]+$"))
               ).alias("nonalpha_words"),
    )
    r_wc = F.col("n_words").between(20, 100000)
    r_mwl = F.col("mean_word_len").between(2.0, 10.0)
    r_uni = F.col("unique_ratio") >= 0.1
    r_stop = F.col("stop_distinct") >= 2
    r_sym = (F.col("nonalpha_words").cast("double")
             / F.col("n_words")) <= 0.1
    return feat.select(
        "doc_id", "n_words", "mean_word_len", "unique_ratio",
        "stop_distinct", "nonalpha_words",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_uni.alias("r_unique_ratio"),
        r_stop.alias("r_stopwords"),
        r_sym.alias("r_symbol_ratio"),
        (r_wc & r_mwl & r_uni & r_stop & r_sym).alias("passes"),
    )


# ---------------------------------------------------------------------
# Corpus unigram-LM log-probability (perplexity-proxy quality score)
# ---------------------------------------------------------------------

@query("text_unigram_logprob", """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT SUM(c) AS n FROM cnt),
    lp AS (SELECT token,
                  ln(CAST(c AS DOUBLE) / (SELECT n FROM tot)) AS logp
           FROM cnt)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(l.logp), 8) AS avg_logprob
    FROM tok t JOIN lp l ON t.token = l.token
    GROUP BY t.doc_id
""")
def text_unigram_logprob(spark, sf_dir):
    """Per-document mean unigram log-probability under a LM trained on
    the corpus itself - the classic perplexity-proxy quality score
    (CCNet-style: documents whose tokens are globally rare score low
    and get filtered/down-weighted). Two passes over one explode: (1)
    token -> global count -> log(c/N) vocabulary table; (2) tokens
    joined back to their log-probs, averaged per document.

    The vocabulary table is broadcast (it aggregates to |vocab| rows -
    small here; at 100 TB a BPE-ish vocabulary is still ~100k-1M rows,
    comfortably broadcastable, so the per-token join never shuffles the
    corpus). The token->count aggregate is the only big exchange and it
    moves (token, partial count) pairs with map-side combine.

    Exactness: counts and the c/N division are bit-identical across
    engines, but libm ln() carries last-ulp divergence and the per-doc
    mean's summation order is engine-dependent, so the published score
    is rounded to 8 decimals (~1e-15 worst-case error vs 5e-9 margin)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id",
                   F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    lp = (cnt.crossJoin(F.broadcast(total))
          .select("token",
                  F.log(F.col("c").cast("double") / F.col("n"))
                  .alias("logp")))
    return (tok.join(F.broadcast(lp), "token")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("logp"), 8).alias("avg_logprob")))


# ---------------------------------------------------------------------
# Distribution window functions: percent_rank + cume_dist
# ---------------------------------------------------------------------

@query("w8_percent_rank_cume", """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN COUNT(*) OVER (PARTITION BY o_custkey) = 1
                THEN 0.0
                ELSE percent_rank() OVER
                     (PARTITION BY o_custkey ORDER BY o_totalprice)
           END AS pr,
           cume_dist() OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice) AS cd
    FROM orders
""")
def w8_percent_rank_cume(spark, sf_dir):
    """Within-customer spend distribution position: percent_rank (rank
    normalized to [0,1]) and cume_dist for every order - the
    "is this order unusually large FOR THIS customer" signal that
    absolute thresholds (d4b) can't express. Completes the window
    function family (w1-w7 cover running/rank/lag/frame shapes).

    Both functions are (rank-1)/(n-1) resp. peers/n - integer window
    counts with ONE IEEE division, so values are bit-identical across
    engines with no rounding. The CASE in the oracle pins the n=1
    partition to 0.0 (Spark defines percent_rank of a single row as 0;
    SQL engines differ on the 0/0). One hash-partition shuffle on
    o_custkey; within-partition sort only - at 100 TB this is the
    standard windowing exchange with no skew risk (order counts per
    customer are bounded)."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"))


# ---------------------------------------------------------------------
# Distributed Gram matrix (X^T X) over the embedding table
# ---------------------------------------------------------------------

@query("embed_gram_matrix", """
    WITH ex AS (
      SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i))
    SELECT a.i AS i, b.i AS j, ROUND(SUM(a.x * b.x), 6) AS g
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY a.i, b.i
""")
def embed_gram_matrix(spark, sf_dir):
    """Upper-triangle Gram matrix X^T X of the embedding table - the
    sufficient statistic for PCA, ZCA whitening, and closed-form linear
    probes. The scale pattern is partial-Gram aggregation: each Arrow
    batch computes its own dense (64x64) X^T X with one numpy matmul,
    emits the 2080 upper-triangle cells, and a single (i, j) aggregate
    sums the partials. The shuffle moves O(partitions x d^2) cells -
    independent of row count - so at 100 TB the exchange is megabytes
    while the matmul work stays embarrassingly parallel in C.

    (The naive alternative - posexplode + self-join on vec_id - would
    amplify every row x64 and shuffle the corpus; the oracle does
    exactly that, which is fine for DuckDB at verification scale.)

    Exactness: numpy's pairwise-summed partials vs DuckDB's sequential
    sum differ by ~1e-13 absolute at these magnitudes; published cells
    are rounded to 6 decimals (stats_corr_pairs precedent)."""
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "embeddings")
    dim = 64
    iu, ju = np.triu_indices(dim)

    def gram(batches):
        steady_zip_imports()
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64)
                 for v in pdf["embedding"]])
            G = X.T @ X
            yield pd.DataFrame({
                "i": iu.astype("int32"), "j": ju.astype("int32"),
                "partial": G[iu, ju]})

    # null-vector rows carry no geometry: excluded (null-sweep proof)
    parts = (e.filter(F.col("embedding").isNotNull() & (F.size("embedding") == 64))
             .select("embedding").mapInPandas(
                 gram, "i int, j int, partial double"))
    return (parts.groupBy("i", "j")
            .agg(F.round(F.sum("partial"), 6).alias("g")))


# ---------------------------------------------------------------------
# Exact-rank winsorization (robust normalization for training signals)
# ---------------------------------------------------------------------

@query("events_value_winsorized", """
    WITH e AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL),
    st AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e),
    cut AS (
      SELECT event_type,
             MAX(CASE WHEN rn = (n * 5 + 99) // 100
                      THEN value END) AS p05,
             MAX(CASE WHEN rn = (n * 95 + 99) // 100
                      THEN value END) AS p95
      FROM st GROUP BY event_type)
    SELECT e.event_type, COUNT(*) AS n,
           MAX(c.p05) AS p05, MAX(c.p95) AS p95,
           CAST(SUM(CASE WHEN e.value < c.p05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN e.value > c.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high,
           CAST(SUM(CAST(FLOOR(1000000 * CASE
                          WHEN e.value < c.p05 THEN c.p05
                          WHEN e.value > c.p95 THEN c.p95
                          ELSE e.value END) AS BIGINT))
                AS BIGINT) AS winsor_sum_micros
    FROM e JOIN cut c ON e.event_type = c.event_type
    GROUP BY e.event_type
""")
def events_value_winsorized(spark, sf_dir):
    """Per-type winsorized mean with exact nearest-rank p05/p95 cutoffs
    - the robust normalization step that keeps a handful of corrupt
    magnitudes from dominating a training signal (clamping beats
    dropping when volume itself is the signal). Cutoff ranks are pure
    integer arithmetic (ceil(q*n) as (q*100*n + 99) div 100 - no float
    quantile interpolation, so both engines select literally the same
    stored VALUES; the events_mad_outliers argument). Two exchanges: a
    per-type rank sort, then a broadcast of the |types|-row cutoff
    table back onto the stream. Everything published is EXACT integer
    arithmetic: clamp counts are cast to BIGINT on the oracle side
    (DuckDB's uncast SUM(CASE->1/0) is HUGEINT, the r5 red), and the
    winsorized mean is published as winsor_sum_micros - each clamped
    double floored at micro precision (FLOOR(1e6*w) is the same IEEE
    double op in both engines, no ROUND half-way hazard) then summed
    as int64, which is associative and immune to the
    engine-dependent float summation order that made ROUND(AVG(.),8)
    an intermittent-red hazard. Consumers derive the mean as
    winsor_sum_micros / n / 1e6."""
    from .catalog import _events
    from pyspark.sql import Window

    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    byv = Window.partitionBy("event_type").orderBy("value")
    cnt = Window.partitionBy("event_type")
    st = e.select("event_type", "value",
                  F.row_number().over(byv).alias("rn"),
                  F.count(F.lit(1)).over(cnt).alias("n"))
    cut = (st.filter((F.col("rn") == F.expr("(n * 5 + 99) div 100"))
                     | (F.col("rn") == F.expr("(n * 95 + 99) div 100")))
           .groupBy("event_type")
           .agg(F.min("value").alias("p05"), F.max("value").alias("p95")))
    clamped = (e.join(F.broadcast(cut), "event_type")
               .select("event_type", "value", "p05", "p95",
                       F.when(F.col("value") < F.col("p05"), F.col("p05"))
                       .when(F.col("value") > F.col("p95"), F.col("p95"))
                       .otherwise(F.col("value")).alias("w")))
    return (clamped.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("p05").alias("p05"), F.max("p95").alias("p95"),
                 F.sum(F.when(F.col("value") < F.col("p05"), 1)
                       .otherwise(0)).alias("n_low"),
                 F.sum(F.when(F.col("value") > F.col("p95"), 1)
                       .otherwise(0)).alias("n_high"),
                 F.sum(F.floor(F.when(
                     (F.lit(1000000.0) * F.col("w"))
                     .between(-9.0e18, 9.0e18),
                     F.lit(1000000.0) * F.col("w"))))
                 .alias("winsor_sum_micros")))


# ---------------------------------------------------------------------
# Revenue concentration: Lorenz curve at decile checkpoints
# ---------------------------------------------------------------------

@query("orders_revenue_concentration", """
    WITH rev AS (
      SELECT o_custkey,
             list_reduce(list_sort(list(o_totalprice)),
                         (a, b) -> a + b) AS revenue
      FROM orders GROUP BY o_custkey),
    rk AS (
      SELECT o_custkey, revenue,
             row_number() OVER (ORDER BY revenue DESC, o_custkey) AS r,
             COUNT(*) OVER () AS n
      FROM rev),
    dec AS (
      SELECT ((r - 1) * 10) // n + 1 AS decile, revenue FROM rk),
    agg AS (
      SELECT decile, COUNT(*) AS n_customers,
             list_reduce(list_sort(list(revenue)),
                         (a, b) -> a + b) AS decile_revenue
      FROM dec GROUP BY decile)
    SELECT decile, n_customers,
           ROUND(decile_revenue, 6) AS decile_revenue,
           ROUND(SUM(decile_revenue) OVER (ORDER BY decile)
                 / SUM(decile_revenue) OVER (), 8) AS cum_share
    FROM agg
""")
def orders_revenue_concentration(spark, sf_dir):
    """Lorenz curve over customers: rank every customer by lifetime
    revenue (descending), cut into population deciles, publish each
    decile's revenue mass and the cumulative share - the "top 10% of
    customers carry X% of revenue" concentration read that sizes both
    skew mitigations and business dashboards.

    Exactness: per-customer and per-decile revenue sums fold over
    SORTED value lists (bit-identical to DuckDB's list_sort +
    list_reduce), which also pins the rank order exactly (ties broken
    by custkey); decile assignment is integer arithmetic. Only the
    final 10-row cumulative division is rounded. The global rank is
    the TWO-PASS scheme (operators/twopass.py: range shuffle on
    (revenue desc, custkey), per-partition counts, broadcast offsets,
    partition-local row_number) - no single-partition stage over the
    customer aggregate; N folds in as a plan literal from the subtotal
    pass. The only remaining unpartitioned window is the cumulative
    share over the 10-row decile aggregate - bounded at 10 rows by
    construction, legitimate at any scale (asserted by test_plans)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    rev = (o.groupBy("o_custkey")
           .agg(F.aggregate(F.sort_array(F.collect_list("o_totalprice")),
                            F.lit(0.0), lambda a, x: a + x)
                .alias("revenue")))
    rk, n_rows, _ = twopass.global_prefix(
        rev, [F.desc("revenue"), F.asc("o_custkey")])
    dec = rk.select(
        F.expr(f"({twopass.ROW_COL} - 1) * 10 div {max(n_rows, 1)} + 1")
        .alias("decile"), "revenue")
    agg = (dec.groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_customers"),
                F.aggregate(F.sort_array(F.collect_list("revenue")),
                            F.lit(0.0), lambda a, x: a + x)
                .alias("decile_revenue")))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    return agg.select(
        "decile", "n_customers",
        F.round("decile_revenue", 6).alias("decile_revenue"),
        F.round(F.sum("decile_revenue").over(wc)
                / F.sum("decile_revenue").over(wt), 8).alias("cum_share"))


@query("text_bigram_logprob", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i+1])) AS bg
      FROM t
    ),
    cb AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
    cc AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c) AS cc
           FROM cb GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    lp AS (
      SELECT cb.bg,
             ln((c + 1.0) / (cc.cc + (SELECT v FROM vocab))) AS logp
      FROM cb JOIN cc ON cc.w1 = split_part(cb.bg, ' ', 1)
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(lp.logp), 8) AS avg_logprob
    FROM bg JOIN lp ON lp.bg = bg.bg
    GROUP BY bg.doc_id
""")
def text_bigram_logprob(spark, sf_dir):
    """Per-document mean BIGRAM log-probability with add-one smoothing,
    P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V) - the
    step up from text_unigram_logprob that a real quality filter takes:
    unigram scoring cannot distinguish fluent text from a bag of common
    words; conditional bigram probability penalizes improbable
    TRANSITIONS (shuffled or templated text scores low even when every
    token is frequent). Smoothing keeps unseen transitions finite and
    V comes from the unigram vocabulary.

    Plan: one adjacent-pair explode (CASE-guarded - Spark's
    sequence(1, 0) counts DOWN, the BPE lesson), bigram-type and
    context-count aggregates with map-side combine, the log-prob table
    broadcast back onto the bigram stream (|bigram types| here is tiny;
    at 100 TB hash-join on w1 instead), one per-doc aggregate. Docs
    with fewer than 2 tokens have no bigrams and drop out identically
    on both engines. Exactness: counts integral, (c+1)/(cc+V) is ONE
    double division, ln and the per-doc mean order are pinned by
    ROUND(..., 8) - the unigram entry's recipe."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigr = toks.select(
        "doc_id",
        F.explode(F.expr(
            "case when size(t) >= 2 then transform(sequence(1, size(t)-1),"
            " i -> struct(element_at(t, i) as w1,"
            " element_at(t, i+1) as w2)) else array() end")).alias("b")) \
        .select("doc_id", "b.w1", "b.w2")
    cb = bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cc = cb.groupBy("w1").agg(F.sum("c").alias("cc"))
    vocab = (d.select(F.explode(F.split("text", " ")).alias("tok"))
             .agg(F.countDistinct("tok").alias("v")))
    lp = (cb.join(cc, "w1")
          .crossJoin(F.broadcast(vocab))
          .select("w1", "w2",
                  F.log((F.col("c") + F.lit(1.0))
                        / (F.col("cc") + F.col("v"))).alias("logp")))
    return (bigr.join(F.broadcast(lp), ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg("logp"), 8).alias("avg_logprob")))


# ---------------------------------------------------------------------
# Top principal component: distributed Gram + fixed power iteration
# ---------------------------------------------------------------------

@query("embed_top_pc", """
    WITH ex AS (
      SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS g
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i),
    v0 AS (SELECT unnest(range(0, 64)) AS i, 0.125 AS v),
    m1 AS (SELECT g.i, SUM(g.g * v0.v) AS mv
           FROM g JOIN v0 ON g.j = v0.i GROUP BY g.i),
    v1 AS (SELECT i, mv / sqrt((SELECT SUM(mv * mv) FROM m1)) AS v
           FROM m1),
    m2 AS (SELECT g.i, SUM(g.g * v1.v) AS mv
           FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i),
    v2 AS (SELECT i, mv / sqrt((SELECT SUM(mv * mv) FROM m2)) AS v
           FROM m2),
    m3 AS (SELECT g.i, SUM(g.g * v2.v) AS mv
           FROM g JOIN v2 ON g.j = v2.i GROUP BY g.i),
    v3 AS (SELECT i, mv / sqrt((SELECT SUM(mv * mv) FROM m3)) AS v
           FROM m3),
    m4 AS (SELECT g.i, SUM(g.g * v3.v) AS mv
           FROM g JOIN v3 ON g.j = v3.i GROUP BY g.i),
    v4 AS (SELECT i, mv / sqrt((SELECT SUM(mv * mv) FROM m4)) AS v
           FROM m4),
    m5 AS (SELECT g.i, SUM(g.g * v4.v) AS mv
           FROM g JOIN v4 ON g.j = v4.i GROUP BY g.i),
    v5 AS (SELECT i, mv / sqrt((SELECT SUM(mv * mv) FROM m5)) AS v
           FROM m5),
    sgn AS (SELECT CASE WHEN (SELECT v FROM v5
                              ORDER BY abs(v) DESC, i LIMIT 1) < 0
                        THEN -1.0 ELSE 1.0 END AS s)
    SELECT i AS pos, ROUND(v * (SELECT s FROM sgn), 6) AS comp
    FROM v5
""")
def embed_top_pc(spark, sf_dir):
    """Top principal direction of the embedding corpus via EXACTLY five
    power-iteration steps over the distributed Gram matrix - the
    spectral summary that drives anisotropy diagnostics (is the
    embedding space collapsing onto one axis?) and mean-centering-free
    whitening decisions.

    Split of labor is the IVF-codebook pattern (similarity.py): the
    O(rows) work - the d x d Gram sufficient statistic - is a
    distributed partial-Gram aggregate (per-Arrow-batch numpy matmul,
    O(partitions x d^2) shuffle; see embed_gram_matrix), and ONLY the
    d x d = 64 x 64 statistic lands on the driver, where five fixed
    matvec+normalize steps cost microseconds. At 100 TB the driver
    still holds 4096 doubles - row count never touches it.

    Both engines run the SAME five iterations from the same v0 =
    0.125 * ones (the oracle unrolls them as CTEs), so the published
    vector agrees regardless of spectral convergence; the sign is
    pinned by making the largest-|.|  component positive. Float
    summation order inside matvecs is engine-dependent (~1e-12 after
    five contractive steps) - published rounded to 6 decimals."""
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "embeddings")
    dim = 64

    def gram_full(batches):
        steady_zip_imports()
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64)
                 for v in pdf["embedding"]])
            G = X.T @ X
            ii, jj = np.indices((dim, dim))
            yield pd.DataFrame({
                "i": ii.ravel().astype("int32"),
                "j": jj.ravel().astype("int32"),
                "partial": G.ravel()})

    cells = (e.filter(F.col("embedding").isNotNull() & (F.size("embedding") == 64)).select("embedding")
             .mapInPandas(gram_full, "i int, j int, partial double")
             .groupBy("i", "j").agg(F.sum("partial").alias("g"))
             .collect())
    G = np.zeros((dim, dim))
    for r in cells:
        G[r["i"], r["j"]] = r["g"]
    v = np.full(dim, 0.125)
    for _ in range(5):
        mv = G @ v
        v = mv / np.sqrt(float((mv * mv).sum()))
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    # round with F.round (HALF_UP) like every other rounded entry -
    # Python round() is banker's half-to-even and would hash-diverge
    # from DuckDB ROUND on an exact .5e-6 boundary (r4 advice)
    rows = [(int(i), float(v[i])) for i in range(dim)]
    return (local_frame(spark, rows, "pos int, comp double")
            .select("pos", F.round("comp", 6).alias("comp")))
