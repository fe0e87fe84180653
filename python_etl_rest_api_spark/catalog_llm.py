"""Round-4 LLM-training-data operators, second pack: corpus n-gram
heavy hitters, temperature-scaled domain mixing weights, log2 document
length histograms, and duplicate-aware sampling weights — the
dashboard/curation queries a 100 TB pre-training pipeline runs between
dedup and batch packing.

The reference (a 313-line pandas/FastAPI technical test) has no corpus
surface at all; these extend the documents-table family
(catalog_ext/catalog_scale) following the repo's cross-engine
exactness recipe: integer counts divided once in double, sqrt (IEEE
correctly-rounded, unlike ln/pow whose libm rounding diverges between
engines) for the temperature transform, sequential array folds when a
small float sum must be order-pinned, md5 for portable hashing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import catalog_ext  # noqa: F401 — registers the components oracle we wrap
from .catalog import _t, query
from .operators import dedup, similarity
from .session import local_frame


# ---------------------------------------------------------------------
# Corpus bigram heavy hitters (document frequency, not token frequency)
# ---------------------------------------------------------------------

@query("ngram_bigram_hitters", """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 2 THEN
               list_distinct(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1]))
             ELSE [] END AS bigrams
      FROM toks),
    ex AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bg),
    cnt AS (SELECT bigram, COUNT(*) AS doc_freq FROM ex GROUP BY bigram),
    tot AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT bigram, doc_freq,
           CAST(doc_freq AS DOUBLE) / (SELECT n_docs FROM tot)
             AS doc_share
    FROM cnt
    ORDER BY doc_freq DESC, bigram LIMIT 30
""")
def ngram_bigram_hitters(spark, sf_dir):
    """Corpus-wide top-30 bigrams by DOCUMENT frequency — the
    boilerplate detector (a bigram in 40% of documents is template
    text, not content). Distinct-per-doc before counting is what makes
    it doc frequency: text_top_terms counts token occurrences, this
    counts documents touched. Plan: one narrow projection builds each
    doc's distinct bigram set (transform over an index sequence — no
    UDF, no shuffle), explode, ONE map-side-combined count shuffle over
    the bigram vocabulary, TakeOrderedAndProject for the top-30 (no
    global sort). At 100 TB the vocabulary aggregate is the only big
    exchange and it moves (bigram, partial count) pairs only."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                  F.element_at(toks, i + 2)))),
    ).otherwise(F.array().cast("array<string>"))
    ex = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (ex.groupBy("bigram").agg(F.count(F.lit(1)).alias("doc_freq"))
            .crossJoin(F.broadcast(tot))
            .select("bigram", "doc_freq",
                    (F.col("doc_freq").cast("double")
                     / F.col("n_docs")).alias("doc_share"))
            .orderBy(F.col("doc_freq").desc(), F.col("bigram"))
            .limit(30))


# ---------------------------------------------------------------------
# Temperature-scaled domain mixing weights
# ---------------------------------------------------------------------

@query("mix_temperature_weights", """
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS total FROM per_src),
    scaled AS (
      SELECT source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE)
               / (SELECT total FROM tot) AS raw_share,
             sqrt(CAST(n_tokens AS DOUBLE)
                  / (SELECT total FROM tot)) AS sq
      FROM per_src),
    denom AS (
      SELECT list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(sq ORDER BY source)),
               (acc, x) -> acc + x) AS z
      FROM scaled)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           raw_share,
           sq / (SELECT z FROM denom) AS temp_weight,
           (sq / (SELECT z FROM denom)) / raw_share AS boost
    FROM scaled ORDER BY source
""")
def mix_temperature_weights(spark, sf_dir):
    """Temperature-scaled domain mixing (the multilingual/multi-domain
    sampling recipe: w_s ∝ p_s^α): per-source token shares raised to
    α = 0.5 and renormalized, plus the boost factor each domain gets
    over proportional sampling (>1 = upsampled tail domain). α is
    POLICY-pinned to 0.5 because sqrt is IEEE-754 correctly-rounded on
    both engines while pow/exp/ln rounding diverges between libms —
    the repo's exactness recipe extended to nonlinear transforms. The
    normalizer folds the ~|sources| sqrt terms in a SORTED sequential
    reduce (order-pinned like the cosine oracles) instead of a float
    SUM whose fold order neither engine specifies. Plan: one shuffle
    for the per-source aggregate (map-side combined), the rest is a
    broadcast of |sources| rows."""
    d = _t(spark, sf_dir, "documents")
    per_src = (d.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.size(F.split("text", " "))).alias("n_tokens")))
    tot = per_src.agg(F.sum("n_tokens").alias("total"))
    scaled = (per_src.crossJoin(F.broadcast(tot))
              .select("source", "n_docs", "n_tokens",
                      (F.col("n_tokens").cast("double") / F.col("total"))
                      .alias("raw_share"))
              .withColumn("sq", F.sqrt("raw_share")))
    denom = (scaled
             .agg(F.array_sort(F.collect_list(F.struct("source", "sq")))
                  .alias("pairs"))
             .select(F.aggregate("pairs", F.lit(0.0),
                                 lambda acc, p: acc + p["sq"]).alias("z")))
    return (scaled.crossJoin(F.broadcast(denom))
            .select("source", "n_docs", "n_tokens", "raw_share",
                    (F.col("sq") / F.col("z")).alias("temp_weight"),
                    ((F.col("sq") / F.col("z")) / F.col("raw_share"))
                    .alias("boost"))
            .orderBy("source"))


# ---------------------------------------------------------------------
# Log2 document-length histogram
# ---------------------------------------------------------------------

@query("text_length_histogram", """
    WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT CAST(length(bin(n_tokens)) AS INTEGER) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM lens GROUP BY log2_bucket ORDER BY log2_bucket
""")
def text_length_histogram(spark, sf_dir):
    """Power-of-two document length histogram (bucket b holds docs with
    2^(b-1) <= tokens < 2^b) — the curriculum/packing planner's view
    of the corpus. The bucket index is length(bin(n)) = floor(log2)+1
    computed on the INTEGER's binary representation, not floor(ln/ln2)
    on a double (which misbuckets exact powers of two when the libm ln
    lands a hair under). Pure two-stage aggregate: narrow map for
    token counts, one tiny shuffle over ~60 buckets."""
    d = _t(spark, sf_dir, "documents")
    lens = d.select(F.size(F.split("text", " ")).alias("n_tokens"))
    return (lens
            .groupBy(F.length(F.bin(F.col("n_tokens").cast("long")))
                     .cast("int").alias("log2_bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_tokens").cast("long").alias("min_tokens"),
                 F.max("n_tokens").cast("long").alias("max_tokens"),
                 F.sum("n_tokens").cast("long").alias("sum_tokens"))
            .orderBy("log2_bucket"))


# ---------------------------------------------------------------------
# Duplicate-aware sampling weights (cluster size -> 1/n weight)
# ---------------------------------------------------------------------

_COMPONENTS_SQL_BODY = None  # populated lazily from the registered oracle


def _components_oracle() -> str:
    from .catalog import ORACLES
    return ORACLES["dedup_cluster_components"]


@query("dedup_cluster_weights", None)
def dedup_cluster_weights(spark, sf_dir):
    """Duplicate-aware sampling weights: every document joined to its
    near-dup cluster (connected components over the verified MinHash
    pair graph; singletons = their own cluster), weighted 1/cluster_size
    so each DISTINCT piece of content contributes equal expected mass
    to a training epoch — soft dedup, the alternative to dropping
    duplicates outright. Composes two verified operators (minhash LSH
    pairs -> iterative components) with a left join back to the full
    corpus: docs in no pair keep their own id as component (coalesce),
    so total weight == number of distinct contents. The 1/n division
    is one exact double op; cluster sizes are integer counts. At
    100 TB: the pair graph is tiny next to the corpus (only near-dup
    candidates), the components loop iterates over edges only, and the
    final join is an equi-join on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(
        docs, num_hashes=8, bands=4, threshold=0.5)
    comp = dedup.connected_components(pairs)
    joined = (docs.select("doc_id", "source")
              .join(comp, docs.doc_id == comp.vertex, "left")
              .select("doc_id", "source",
                      F.coalesce("component_id", "doc_id")
                      .alias("component_id")))
    sizes = joined.groupBy("component_id") \
                  .agg(F.count(F.lit(1)).alias("cluster_size"))
    return (joined.join(sizes, "component_id")
            .select("doc_id", "source", "component_id", "cluster_size",
                    (F.lit(1.0) / F.col("cluster_size"))
                    .alias("sample_weight"))
            .orderBy("doc_id"))


def _register_cluster_weights_oracle():
    """The oracle wraps the already-registered recursive-CTE components
    oracle as a subquery — one source of truth for the closure SQL."""
    from .catalog import ORACLES
    ORACLES["dedup_cluster_weights"] = f"""
    WITH comp AS (SELECT * FROM ({_components_oracle()}) t),
    assigned AS (
      SELECT d.doc_id, d.source,
             COALESCE(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.vertex),
    sizes AS (
      SELECT component_id, COUNT(*) AS cluster_size
      FROM assigned GROUP BY component_id)
    SELECT a.doc_id, a.source, a.component_id, s.cluster_size,
           CAST(1.0 AS DOUBLE) / s.cluster_size AS sample_weight
    FROM assigned a JOIN sizes s USING (component_id)
    ORDER BY a.doc_id
    """


_register_cluster_weights_oracle()


# ---------------------------------------------------------------------
# MMR diversified top-k (greedy re-rank, chained-argmax oracle)
# ---------------------------------------------------------------------

def _cos_sql(a: str, b: str) -> str:
    """DuckDB sequential-fold cosine between two list columns — the
    same left-to-right double fold as operators/similarity.py::cosine."""
    def _dot(x, y):
        return (f"list_reduce(list_transform(range(1, len({x}) + 1), "
                f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), "
                f"(x, y) -> x + y)")
    return (f"{_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))")


def _mmr_oracle(pool: int = 12, k: int = 5) -> str:
    """Chained-argmax MMR: the greedy loop unrolled into k CTE stages,
    each a plain ORDER BY ... LIMIT 1 over the remaining pool — exact,
    non-recursive, and the identical IEEE expression tree as the
    driver-side greedy (note (1.0 - 0.7), NOT a 0.3 literal: the
    subtraction yields 0.30000000000000004 and the oracle must carry
    the same double)."""
    lam = "CAST(0.7 AS DOUBLE)"
    one_minus = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
    parts = [f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, {_cos_sql('q.qv', 'e.embedding')} AS rel
      FROM q, embeddings e WHERE e.vec_id != 0
      ORDER BY rel DESC, e.vec_id LIMIT {pool}),
    cv AS (SELECT e.vec_id, e.embedding FROM embeddings e
           JOIN cand c ON e.vec_id = c.vec_id),
    ps AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_cos_sql('a.embedding', 'b.embedding')} AS sim
      FROM cv a, cv b WHERE a.vec_id != b.vec_id),
    sel1 AS (SELECT 1 AS rank, vec_id, rel, {lam} * rel AS mmr_score
             FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"""]
    prev_sels = ["sel1"]
    for i in range(2, k + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT vec_id FROM {s}" for s in prev_sels)
        parts.append(f""",
    sc{i} AS (
      SELECT c.vec_id, c.rel,
             {lam} * c.rel - {one_minus} * MAX(p.sim) AS mmr_score
      FROM cand c JOIN ps p ON p.id_a = c.vec_id
      WHERE p.id_b IN ({prev_union})
        AND c.vec_id NOT IN ({prev_union})
      GROUP BY c.vec_id, c.rel),
    sel{i} AS (SELECT {i} AS rank, vec_id, rel, mmr_score FROM sc{i}
               ORDER BY mmr_score DESC, vec_id LIMIT 1)""")
        prev_sels.append(f"sel{i}")
    final_union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in prev_sels)
    parts.append(f"""
    SELECT rank, vec_id, rel AS relevance, mmr_score
    FROM ({final_union}) ORDER BY rank""")
    return "".join(parts)


@query("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-5 for query vector 0
    (lambda = 0.7 over a 12-candidate pool): the retrieval re-ranker
    that trades raw relevance for coverage — the missing piece between
    ANN candidate generation and a context window. Distributed
    candidate selection + pairwise sims; pool-bounded greedy on the
    driver (operators/similarity.py::mmr_rerank); the oracle unrolls
    the same greedy into chained argmax CTEs and matches bit-for-bit."""
    from pyspark.sql import types as T

    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    rows = similarity.mmr_rerank(emb, q, pool=12, k=5, lam=0.7)
    schema = T.StructType([
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("relevance", T.DoubleType(), False),
        T.StructField("mmr_score", T.DoubleType(), False)])
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------
# Keyword-in-context (KWIC) concordance
# ---------------------------------------------------------------------

@query("text_kwic_window", """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    hits AS (
      SELECT doc_id, t, list_position(t, 'window') AS pos FROM toks
      WHERE list_position(t, 'window') >= 1)
    SELECT doc_id, CAST(pos AS INTEGER) AS pos,
           COALESCE(array_to_string(
             list_slice(t, CASE WHEN pos - 3 > 1 THEN pos - 3 ELSE 1 END,
                        pos - 1), ' '), '') AS left_ctx,
           COALESCE(array_to_string(
             list_slice(t, pos + 1,
                        CASE WHEN pos + 3 < len(t) THEN pos + 3
                             ELSE len(t) END), ' '), '') AS right_ctx
    FROM hits ORDER BY doc_id
""")
def text_kwic_window(spark, sf_dir):
    """Keyword-in-context concordance for the term 'window': first
    occurrence position plus three tokens of left/right context per
    matching document — the corpus-QA query behind term audits and
    tokenizer debugging. Pure narrow projection (array_position +
    slice + concat_ws, all codegen'd): zero shuffle beyond the final
    presentation sort; at 100 TB this is a map-only scan whose output
    is |matching docs|. Both engines are 1-indexed with identical
    empty-slice semantics at the document edges."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    staged = (d.select("doc_id", toks.alias("t"),
                       F.array_position(toks, "window").alias("pos64"))
              .filter(F.col("pos64") > 0)
              .select("doc_id", "t", F.col("pos64").cast("int").alias("pos")))
    pos = F.col("pos")
    n = F.size("t")
    left_start = F.greatest(pos - 3, F.lit(1))
    left_len = pos - left_start
    right_end = F.least(pos + 3, n)
    return (staged.select(
        "doc_id", "pos",
        F.concat_ws(" ", F.slice("t", left_start, left_len))
        .alias("left_ctx"),
        F.concat_ws(" ", F.when(
            right_end - pos > 0,
            F.slice("t", pos + 1, right_end - pos))
            .otherwise(F.array().cast("array<string>")))
        .alias("right_ctx"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------
# DSIR-style importance weights (hashed-unigram target/raw LM ratio)
# ---------------------------------------------------------------------

@query("dsir_importance_weights", """
    WITH tok AS MATERIALIZED (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      FROM documents),
    b AS MATERIALIZED (
      SELECT doc_id, source,
             (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1
             AS bucket
      FROM tok WHERE token <> ''),
    tc AS MATERIALIZED (
      SELECT bucket, COUNT(*) AS c FROM b
      WHERE source IN ('src0', 'src1') GROUP BY bucket),
    rc AS MATERIALIZED (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket),
    tot AS MATERIALIZED (
      SELECT (SELECT SUM(c) FROM tc) AS nt, (SELECT SUM(c) FROM rc) AS nr),
    lr AS MATERIALIZED (
      SELECT rc.bucket,
             ln((COALESCE(tc.c, 0) + 1) / (tot.nt + 256.0))
             - ln((rc.c + 1) / (tot.nr + 256.0)) AS logratio
      FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tot)
    SELECT b.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(SUM(lr.logratio), 6) AS logw
    FROM b JOIN lr ON b.bucket = lr.bucket
    GROUP BY b.doc_id
""")
def dsir_importance_weights(spark, sf_dir):
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public): score every raw document by how much more likely its
    hashed-unigram features are under a TARGET-domain LM than under the
    RAW-corpus LM - logw(x) = sum_tokens [ln p_target(b) - ln p_raw(b)]
    over 256 md5-hashed token buckets with +1 smoothing. High-logw
    documents look like the target domain (here sources src0/src1
    standing in for 'trusted high-quality corpus') and get up-sampled
    when composing a pre-training mix.

    Spark plan: one tokenize+hash explode (narrow, zero-shuffle, md5 is
    a JVM expression); the ONLY corpus-sized exchange is the
    bucket-count aggregate, which map-side combines down to <=256 rows
    per distribution; the two count tables and their log-ratio join are
    bucket-sized (256 rows) and BROADCAST back, so the per-token
    scoring join never shuffles the corpus. At 100 TB: identical shape
    - the feature space stays 256 (or 10k) buckets regardless of
    corpus size, which is the point of hashed features; the target
    distribution would come from a separate small corpus, read once.

    Exactness recipe (cross-engine): bucket ids via md5 hex digits
    (portable, unlike engine hash()); counts exact; ONE double division
    per bucket inside ln(); the per-doc SUM of <=~200 ln-ratio terms is
    order-dependent at ~1e-14 while ROUND(.,6) gives 5e-7 margin -
    the text_unigram_logprob recipe. Smoothing keeps raw-only buckets
    finite; target-only buckets cannot exist (target is a subset of
    raw)."""
    d = _t(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    tok = (d.select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("token"))
           .filter(F.col("token") != ""))
    bucket = (
        (F.expr(f"locate(substr(md5(token), 1, 1), '{hexd}')") - 1) * 16
        + F.expr(f"locate(substr(md5(token), 2, 1), '{hexd}')") - 1)
    b = tok.select("doc_id", "source", bucket.alias("bucket"))
    tc = (b.filter(F.col("source").isin("src0", "src1"))
          .groupBy("bucket").agg(F.count(F.lit(1)).alias("tc")))
    rc = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    nt = tc.agg(F.sum("tc").alias("nt"))
    nr = rc.agg(F.sum("rc").alias("nr"))
    lr = (rc.join(tc, "bucket", "left")
          .crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nr))
          .select("bucket",
                  (F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1)
                         / (F.col("nt") + 256.0))
                   - F.log((F.col("rc") + 1) / (F.col("nr") + 256.0))
                   ).alias("logratio")))
    return (b.join(F.broadcast(lr), "bucket")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum("logratio"), 6).alias("logw")))


# ---------------------------------------------------------------------
# SemDeDup: semantic dedup via embedding clusters (cluster, then prune)
# ---------------------------------------------------------------------

_SEMDEDUP_COS = """list_reduce(list_transform(range(1, 65),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
                 (x, y) -> x + y)))"""


@query("dedup_semantic_clusters", f"""
    WITH cent AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             embedding AS cv
      FROM embeddings QUALIFY cid < 16),
    sims AS MATERIALIZED (
      SELECT e.vec_id, c.cid,
             {_SEMDEDUP_COS.format(a='e.embedding', b='c.cv')} AS sim
      FROM embeddings e, cent c),
    inv AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, cid) AS rn FROM sims) WHERE rn = 1),
    ps AS MATERIALIZED (
      SELECT a.cid, a.vec_id AS va,
             {_SEMDEDUP_COS.format(a='ea.embedding', b='eb.embedding')} AS sim
      FROM inv a JOIN inv b ON a.cid = b.cid AND a.vec_id > b.vec_id
           JOIN embeddings ea ON a.vec_id = ea.vec_id
           JOIN embeddings eb ON b.vec_id = eb.vec_id),
    cnt AS (
      SELECT va AS vec_id,
             CAST(SUM(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_close_earlier
      FROM ps GROUP BY va)
    SELECT i.vec_id, i.cid,
           COALESCE(c.n_close_earlier, 0) AS n_close_earlier,
           COALESCE(c.n_close_earlier, 0) = 0 AS keep
    FROM inv i LEFT JOIN cnt c ON i.vec_id = c.vec_id
""")
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication by
    clustering embeddings FIRST, then pruning near-duplicates only
    WITHIN each cluster - the trick that turns an O(n^2) all-pairs
    cosine scan into k independent O((n/k)^2) problems. Pipeline:
    deterministic 16-centroid codebook (smallest vec_ids - no RNG
    state), one-probe nearest-centroid assignment via the Arrow-batched
    matmul UDF (zero shuffle; operators/similarity.py::ivf_assignments),
    then within-cluster pairwise cosine with keep-first semantics: a
    vector is pruned when an EARLIER (smaller-id) cluster member sits
    at sim >= tau. tau = 0.35 is calibrated to this synthetic corpus
    (near-random embeddings; within-cluster sims top out ~0.49, so 0.35
    marks the genuinely-close tail; real corpora use ~0.9+).

    100 TB posture: this IS the billion-scale semantic-dedup recipe -
    k grows with the corpus (keeping n/k bounded, e.g. 100k clusters
    for 1B docs), assignment stays a zero-shuffle broadcast matmul, the
    pairwise stage shuffles once on cid and is quadratic only in the
    BOUNDED cluster size, and each cluster prunes independently in
    parallel. The one structural shuffle (self-join on cid) replaces
    the unshardable all-pairs join of sim_cosine_near_dups.

    Exactness: every cosine - assignment and pairwise - is a
    SEQUENTIAL left-to-right float64 fold (seq_cosine_udf /
    ivf_assignments), bit-identical to the oracle's list_reduce, so
    the sim >= tau comparisons and the derived integer counts match
    exactly; sqrt is IEEE correctly-rounded, and no float is published."""
    from .operators.similarity import ivf_assignments, seq_cosine_udf
    import numpy as np
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64))
    seeds = emb.orderBy("vec_id").limit(16).select("embedding").collect()
    cent = np.array([r[0] for r in seeds], dtype=np.float64)
    inv = (ivf_assignments(emb, cent, nprobe=1)
           .select("vec_id", "embedding", F.col("centroid_id").alias("cid")))
    sim = seq_cosine_udf()
    a = inv.select("cid", F.col("vec_id").alias("va"),
                   F.col("embedding").alias("ea"))
    b = inv.select("cid", F.col("vec_id").alias("vb"),
                   F.col("embedding").alias("eb"))
    pairs = (a.join(b, ["cid"])
             .filter(F.col("va") > F.col("vb"))
             .select("cid", "va", sim(F.col("ea"), F.col("eb")).alias("sim")))
    cnt = (pairs.groupBy("va")
           .agg(F.sum(F.when(F.col("sim") >= 0.35, 1).otherwise(0))
                .cast("long").alias("n_close_earlier")))
    return (inv.select("vec_id", "cid")
            .join(cnt, inv.vec_id == cnt.va, "left")
            .select("vec_id", "cid",
                    F.coalesce("n_close_earlier", F.lit(0))
                    .alias("n_close_earlier"),
                    (F.coalesce("n_close_earlier", F.lit(0)) == 0)
                    .alias("keep")))
