"""Extension catalog entries: dedup, similarity search, text analysis,
event/stream analytics - the LLM-data-pipeline surface, each oracle-checked
against DuckDB where SQL-expressible (minhash/simhash banding are checked
rows-only plus pytest; their SQL equivalents are impractical).

Portability recipes used here (see catalog.py header for the full list):
- md5 for content hashes (identical hex in both engines);
- list folds: F.aggregate <-> list_reduce, double, left-to-right;
- n-gram construction via 1-indexed element access on both sides;
- integer set sizes (array_intersect) divided in double for Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _events, _t, query
from .functions import intmoney
from .operators import dedup, similarity, text
from .session import tune, widen_scan

# ---------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------

@query("dedup_exact", """
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
""")
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy (shuffles 32-byte digests,
    not document bodies)."""
    return dedup.exact_dup_groups(_t(spark, sf_dir, "documents"))


@query("dedup_ngram_jaccard", """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
             )) AS sh
      FROM documents WHERE doc_id < 120)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                ELSE 0.0 END AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND (CASE WHEN (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                ELSE 0.0 END) >= 0.2
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact bigram-Jaccard near-dup pairs on a bounded subset (brute-force
    baseline; the scale path is dedup_minhash_lsh)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=2, threshold=0.2, max_id=120)


@query("dedup_minhash_lsh", """
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
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
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
      FROM (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS x FROM ex) GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band_id, b.band_key FROM sig,
      LATERAL (VALUES
        (0, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)),
        (1, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)),
        (2, CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)),
        (3, CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR))
      ) AS b(band_id, band_key)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id
    )
    SELECT c.id_a, c.id_b,
           CASE WHEN (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles))) > 0
                THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)))
                ELSE 0.0 END AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE jaccard >= 0.5
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs (shingle -> one md5-derived base hash
    -> 8 affine permutations (dedup.MINHASH_A/B/P) -> 4 bands -> bucket
    self-join -> exact Jaccard verify >= 0.5). Candidate generation is
    a band-key equi-join - never an all-pairs product.

    Every hash in the pipeline is md5-derived plus portable 64-bit
    integer arithmetic, so the ENTIRE pipeline - banding included - is
    reproduced by the DuckDB oracle (whose sig fragment is GENERATED
    from the same constants), and the driver value-hashes the final
    pair set instead of rows-only."""
    return dedup.minhash_near_dups(
        _t(spark, sf_dir, "documents"), num_hashes=8, bands=4, threshold=0.5)


@query("dedup_minhash_recall", """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id < 200
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE [] END AS shingles
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
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
      FROM (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS x FROM ex) GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band_id, b.band_key FROM sig,
      LATERAL (VALUES
        (0, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)),
        (1, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)),
        (2, CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)),
        (3, CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR))
      ) AS b(band_id, band_key)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) > 0
        AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    ),
    ver AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM ver) AS n_verified
    )
    SELECT n_truth, n_candidates, n_verified,
           CASE WHEN n_truth > 0
                THEN CAST(n_verified AS DOUBLE) / n_truth END AS recall,
           CASE WHEN n_candidates > 0
                THEN CAST(n_verified AS DOUBLE) / n_candidates END
             AS candidate_precision
    FROM m
""")
def dedup_minhash_recall(spark, sf_dir):
    """LSH quality harness: measure the MinHash banding's CANDIDATE
    RECALL against exact brute-force trigram Jaccard (threshold 0.5) on
    a bounded subset - the dedup counterpart of ann_recall_at_k (recall
    measured against ground truth, not assumed). Because the verify
    step uses the same exact Jaccard, the verified pair set is exactly
    candidates INTERSECT truth: recall = how many true near-dup pairs
    the 8-hash/4-band banding surfaced at all (the quantity that tunes
    hashes x bands), candidate_precision = how hard the verify prunes
    band noise. Ratios are single long/long IEEE divisions - exact on
    both engines; empty subsets yield NULL ratios identically."""
    from .operators import dedup as dd
    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200))
    cand, shingled = dd.minhash_candidate_pairs(
        docs, n=3, num_hashes=8, bands=4)
    a = shingled.select(F.col("doc_id").alias("id_a"),
                        F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("id_b"),
                        F.col("shingles").alias("sh_b"))
    truth = (a.join(b, F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     dd.jaccard(F.col("sh_a"), F.col("sh_b"))
                     .alias("jaccard"))
             .filter(F.col("jaccard") >= 0.5)
             .select("id_a", "id_b"))
    ver = cand.join(truth, ["id_a", "id_b"])
    counts = (truth.agg(F.count(F.lit(1)).alias("n_truth"))
              .crossJoin(cand.agg(F.count(F.lit(1))
                                  .alias("n_candidates")))
              .crossJoin(ver.agg(F.count(F.lit(1)).alias("n_verified"))))
    return counts.select(
        "n_truth", "n_candidates", "n_verified",
        F.when(F.col("n_truth") > 0,
               F.col("n_verified").cast("double") / F.col("n_truth"))
        .alias("recall"),
        F.when(F.col("n_candidates") > 0,
               F.col("n_verified").cast("double") / F.col("n_candidates"))
        .alias("candidate_precision"))


@query("dedup_simhash", """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b.b,
             CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END)
                       > 0
                  THEN 1::BIGINT << b.b ELSE 0 END AS bitval
      FROM hashed, LATERAL (SELECT unnest(range(0, 60)) AS b) AS b
      GROUP BY doc_id, b.b
    ),
    sk AS (
      SELECT doc_id, bit_or(bitval) AS simhash FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, b.b AS band_id,
             (simhash >> (b.b * 15)) & 32767 AS band_key
      FROM sk, LATERAL (SELECT unnest(range(0, 4)) AS b) AS b
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.simhash AS sh_a, r.simhash AS sh_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
""")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (bit-majority sketch, 4-band buckets,
    popcount verify <= 3). The catalog entry runs the PORTABLE variant
    (60-bit md5-derived hashes, 4x15-bit bands) so DuckDB reproduces the
    whole pipeline and the driver value-hashes the pair set; the scale
    path (xxhash64, 64-bit) is the operator default, value-checked
    against this variant in tests."""
    return dedup.simhash_near_dups(_t(spark, sf_dir, "documents"),
                                   portable=True)


@query("pipeline_docs_curate", """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    hits AS (
      SELECT doc_id, text, toks,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
        len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS h_de,
        len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS h_en,
        len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un'))) AS h_es,
        len(list_filter(toks, x -> x IN ('le','la','de','et','un','est','que'))) AS h_fr
      FROM t),
    langed AS (
      SELECT *, CASE WHEN greatest(h_de,h_en,h_es,h_fr) > 0 THEN
          CASE greatest(h_de,h_en,h_es,h_fr) WHEN h_fr THEN 'fr' WHEN h_es THEN 'es'
               WHEN h_en THEN 'en' WHEN h_de THEN 'de' END
        ELSE 'und' END AS predicted_lang
      FROM hits),
    quality AS (
      SELECT * FROM langed
      WHERE predicted_lang = 'en' AND n_tokens >= 20 AND distinct_ratio >= 0.35),
    uniq AS (
      SELECT * FROM quality
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [] END AS shingles
      FROM uniq),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
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
    bands AS (
      SELECT doc_id, b.band_id, b.band_key FROM sig,
      LATERAL (VALUES
        (0, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)),
        (1, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)),
        (2, CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)),
        (3, CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR))
      ) AS b(band_id, band_key)),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id),
    dropped AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
      WHERE (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) > 0
        AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.5)
    SELECT u.doc_id, u.predicted_lang, u.n_tokens,
           CAST(length(u.text) // 4 AS BIGINT) AS n_tokens_bpe_est
    FROM uniq u ANTI JOIN dropped d ON u.doc_id = d.doc_id
""")
def pipeline_docs_curate(spark, sf_dir):
    """THE end-to-end LLM training-data curation funnel as ONE declarative
    plan: language-ID (stopword vote) -> quality filters (token count +
    lexical diversity) -> exact dedup (lowest id per identical text) ->
    MinHash-LSH near-dup removal (verified Jaccard >= 0.5, higher id of
    each pair dropped) -> token accounting for the survivors. Composes
    operators/text + operators/dedup via operators/curate; the oracle
    reproduces every stage in SQL (all hashes md5), so the driver
    value-hashes the final surviving set. At sf0.01: 500 docs -> 315
    survivors (lang/quality and near-dup stages all bite)."""
    from .operators.curate import curate_documents
    tune(spark)
    return curate_documents(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------

_COSINE_PAIR_SQL = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
    pairs AS (
      SELECT q.qid, e.vec_id,
             list_reduce(list_transform(range(1, len(q.qv) + 1),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM q, embeddings e WHERE e.vec_id != q.qid)
    SELECT qid, vec_id, sim,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= 10
"""


@query("sim_topk_bruteforce", _COSINE_PAIR_SQL)
def sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-10 for query vectors {0,1,2}: broadcast the query
    set against the corpus, sequential-fold dot products in double."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    return similarity.topk_bruteforce(emb, queries, k=10) \
        .select("qid", "vec_id", "sim", "rank")


@query("sim_cosine_near_dups", """
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
                 i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM sub a, sub b
      WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.8
""")
def sim_cosine_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs on a bounded subset (sim >= 0.8)."""
    return similarity.cosine_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.8, max_id=200)


_SRP_ORACLE_SQL = """
    WITH planes AS (
      SELECT p.p, d.d,
             ('0x' || substr(md5('srp:' || p.p || ':' || d.d), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM (SELECT unnest(range(0, 24)) AS p) p,
           (SELECT unnest(range(0, 64)) AS d) d
    ),
    plane_vecs AS (
      SELECT p, list(w ORDER BY d) AS wv FROM planes GROUP BY p
    ),
    proj AS (
      SELECT e.vec_id, pv.p,
             list_reduce(list_transform(range(1, 65),
                i -> CAST(e.embedding[i] AS DOUBLE) * pv.wv[i]),
                (a, b) -> a + b) AS pr
      FROM embeddings e, plane_vecs pv
    ),
    keys AS (
      SELECT vec_id, p // 6 AS table_id,
             CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << (p % 6)
                           ELSE 0 END) AS BIGINT) AS bucket_key
      FROM proj GROUP BY vec_id, p // 6
    ),
    qk AS (SELECT vec_id AS qid, table_id, bucket_key FROM keys WHERE vec_id < 3),
    cand AS (
      SELECT DISTINCT qk.qid, k.vec_id
      FROM qk JOIN keys k
        ON k.table_id = qk.table_id AND k.bucket_key = qk.bucket_key
      WHERE k.vec_id != qk.qid
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
    pairs AS (
      SELECT c.qid, c.vec_id,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM cand c
      JOIN q ON q.qid = c.qid
      JOIN embeddings e ON e.vec_id = c.vec_id)
    SELECT qid, vec_id, sim,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= 10
"""


@query("sim_topk_ann_srp", _SRP_ORACLE_SQL)
def sim_topk_ann_srp(spark, sf_dir):
    """ANN top-k via signed-random-projection buckets + exact re-rank
    (the 100 TB path; recall measured against sim_topk_bruteforce in tests).

    The hyperplanes are md5-derived and the projection folds sequentially
    over dimensions in float64, so the full SRP pipeline - bucket keys,
    candidate join, re-rank - is reproduced bit-exactly by the SQL oracle
    (value-hash check, not rows-only)."""
    emb = _t(spark, sf_dir, "embeddings")
    # NOT widened: the Arrow-batched projection UDF is already fast on a
    # single split at these sizes, and repartitioning a tiny corpus to
    # all cores pays one Python worker per partition (measured 2x slower)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    return similarity.topk_ann_srp(emb, queries, dim=64, k=10, bits=6) \
        .select("qid", "vec_id", "sim", "rank")


_IVF_ORACLE_SQL = """
    WITH cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             embedding AS cv
      FROM embeddings QUALIFY cid < 16
    ),
    sims AS (
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
               ORDER BY sim DESC, cid) AS rn FROM sims) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS qid, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, cid) AS rn FROM sims WHERE vec_id < 3)
      WHERE rn <= 4
    ),
    cand AS (
      SELECT DISTINCT p.qid, i.vec_id
      FROM probes p JOIN inv i ON i.cid = p.cid
      WHERE i.vec_id != p.qid
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
    pairs AS (
      SELECT c.qid, c.vec_id,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS sim
      FROM cand c
      JOIN q ON q.qid = c.qid
      JOIN embeddings e ON e.vec_id = c.vec_id)
    SELECT qid, vec_id, sim,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= 10
"""


@query("sim_topk_ann_ivf", _IVF_ORACLE_SQL)
def sim_topk_ann_ivf(spark, sf_dir):
    """ANN top-k via an IVF inverted file (deterministic seed centroids,
    nprobe cell probing, exact re-rank) - the learned-cell complement to
    SRP bucketing; recall vs sim_topk_bruteforce in tests.

    The catalog entry pins refine_steps=0 (seed codebook = 16 lowest
    vec_ids) and sequential-fold float64 arithmetic, so the ENTIRE IVF
    pipeline - assignment, probing, candidate join, re-rank - is
    reproduced bit-exactly by the SQL oracle. Lloyd refinement
    (refine_steps>=1, order-dependent float means) is the production
    default, recall-checked in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    # NOT widened: the Arrow-batched projection UDF is already fast on a
    # single split at these sizes, and repartitioning a tiny corpus to
    # all cores pays one Python worker per partition (measured 2x slower)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    return similarity.topk_ann_ivf(emb, queries, dim=64, k=10,
                                   n_centroids=16, nprobe=4,
                                   refine_steps=0) \
        .select("qid", "vec_id", "sim", "rank")


@query("embed_label_centroid", """
    SELECT label, i - 1 AS pos,
           list_reduce(list_sort(list(CAST(embedding[i] AS DOUBLE))),
                       (a, b) -> a + b) / COUNT(*) AS mean_val,
           COUNT(*) AS n_vecs
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    GROUP BY label, i
""")
def embed_label_centroid(spark, sf_dir):
    """Per-label centroid in long form (label, pos, mean_val): posexplode +
    one (label, pos) aggregate - the class-prototype builder for training
    pipelines (centroids feed IVF codebooks, dedup seeds, drift checks).
    Shuffles (label x dim) cells, never whole vectors.

    The mean folds over a SORTED value list (sort_array + sequential
    aggregate in double <-> DuckDB list_sort + list_reduce), making the
    float sum order-deterministic and bit-identical across engines - that
    upgrades the driver check from rows-only to value-hash. At 100 TB
    prefer plain F.avg (single pass, no per-group list; the ~1e-16
    ordering jitter is irrelevant when no oracle hash is involved)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (emb.select("label", F.posexplode("embedding").alias("pos", "val"))
            .withColumn("val", F.col("val").cast("double"))
            .groupBy("label", "pos")
            .agg(F.sort_array(F.collect_list("val")).alias("_vals"),
                 F.count(F.lit(1)).alias("n_vecs"))
            .select("label", "pos",
                    (F.aggregate("_vals", F.lit(0.0), lambda a, x: a + x)
                     / F.col("n_vecs")).alias("mean_val"),
                    "n_vecs"))


# ---------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------

@query("text_token_count", """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           length(text) // 4 AS n_tokens_bpe_est
    FROM documents
""")
def text_token_count(spark, sf_dir):
    """Whitespace token count + chars/4 BPE estimate, one projection."""
    return text.token_count(_t(spark, sf_dir, "documents"))


@query("text_quality_score", """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
           CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_token_len
    FROM t
""")
def text_quality_score(spark, sf_dir):
    """Cheap quality filters: lexical diversity, stopword ratio, token
    length - exact-int ratios in double."""
    return text.quality_score(_t(spark, sf_dir, "documents"))


@query("text_language_id", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    hits AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS INTEGER) AS h_de,
        CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS INTEGER) AS h_en,
        CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un'))) AS INTEGER) AS h_es,
        CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','un','est','que'))) AS INTEGER) AS h_fr
      FROM t)
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) > 0 THEN
             CASE greatest(h_de, h_en, h_es, h_fr)
               WHEN h_fr THEN 'fr' WHEN h_es THEN 'es'
               WHEN h_en THEN 'en' WHEN h_de THEN 'de' END
           ELSE 'und' END AS predicted_lang,
           greatest(h_de, h_en, h_es, h_fr) AS stopword_hits
    FROM hits
""")
def text_language_id(spark, sf_dir):
    """Stopword-vote language ID. Tiebreak = last language in sorted order
    with the max hits (array_max on (hits, lang) structs <-> the CASE
    chain checking fr, es, en, de in that order)."""
    return text.language_id(_t(spark, sf_dir, "documents"))


@query("text_chunk_windows", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ex AS (SELECT doc_id, toks, unnest(range(0, len(toks), 16)) AS s FROM t)
    SELECT doc_id,
           CAST(s // 16 AS BIGINT) AS chunk_id,
           array_to_string(toks[s+1 : s+32], ' ') AS chunk_text,
           CAST(least(32, len(toks) - s) AS INTEGER) AS n_chunk_tokens
    FROM ex
""")
def text_chunk_windows(spark, sf_dir):
    """Pre-training document chunking: overlapping 32-token windows with
    stride 16 (posexplode over window starts, 1-indexed slice on both
    engines). Narrow map stage - no shuffle, no UDF."""
    return text.chunk_windows(_t(spark, sf_dir, "documents"),
                              window=32, stride=16)


@query("text_pack_sequences", """
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT doc_id, source AS pack_group,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(floor(COALESCE(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 256) AS BIGINT) AS pack_id
    FROM t
""")
def text_pack_sequences(spark, sf_dir):
    """Sequence packing for pre-training batches: docs assigned to
    ~256-token packs per source via a running-sum window (single shuffle
    on the group key; deterministic first-fit, packs overshoot by at most
    one doc)."""
    return text.pack_sequences(_t(spark, sf_dir, "documents"), budget=256)


@query("text_redact_pii", """
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' contact user' || doc_id || '@mail.example.org'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' ref 90210' || doc_id || '1234'
                     ELSE '' END AS text
      FROM documents),
    red AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g') AS text_redacted
      FROM aug)
    SELECT doc_id, text_redacted, (text_redacted != text) AS was_redacted
    FROM red
""")
def text_redact_pii(spark, sf_dir):
    """PII redaction pass: emails and long digit runs masked with typed
    placeholders. PII is INJECTED deterministically from doc_id on both
    engines (the synthetic corpus carries none), so the masking
    demonstrably bites: every doc_id % 5 == 0 gains an email, % 7 == 0 a
    long number, and the oracle value-hashes the redacted text. Patterns
    are portable Java-regex/RE2 (char classes + bounded quantifiers);
    DuckDB needs the explicit 'g' flag to match Spark's replace-all."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@mail.example.org"))).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" ref 90210"),
                            F.col("doc_id").cast("string"),
                            F.lit("1234"))).otherwise("")))
    return text.redact_pii(aug)


@query("text_fingerprint", """
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_md5,
           (length(lower(trim(text))) // 64) || '#'
             || string_split(lower(trim(text)), ' ')[1] || '#'
             || string_split(lower(trim(text)), ' ')[-1] AS fp_struct
    FROM documents
""")
def text_fingerprint(spark, sf_dir):
    """md5 content fingerprint + structural sketch (length bucket, first/
    last token)."""
    return text.fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------
# Event analytics (batch equivalents of the streaming operators;
# streaming/windows.py applies the same transforms to readStream inputs)
# ---------------------------------------------------------------------

@query("stream_tumbling_hourly", """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
""")
def stream_tumbling_hourly(spark, sf_dir):
    """Tumbling 1h window counts + exact decimal sums over events - the
    batch twin of streaming/windows.py::tumbling_agg (same transform fn)."""
    from .streaming.windows import tumbling_agg
    return tumbling_agg(_events(spark, sf_dir))


@query("stream_trending_topk", """
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events,
           CAST(row_number() OVER (PARTITION BY window_start
                ORDER BY n_events DESC, event_type) AS INTEGER) AS rk
    FROM counts
    QUALIFY rk <= 3
""")
def stream_trending_topk(spark, sf_dir):
    """Trending top-3 event types per hour - the batch twin of
    streaming/windows.py::trending_topk (same transform; the streaming
    side computes the watermarked counts and finalizes rank per closed
    window in foreachBatch)."""
    from .streaming.windows import trending_topk
    return trending_topk(_events(spark, sf_dir))


@query("stream_sessionize", """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM g)
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY 1, 2
""")
def stream_sessionize(spark, sf_dir):
    """Sessionization with a 30-min inactivity gap: lag -> new-session flag
    -> running sum -> per-session aggregate. Integer-microsecond gap math
    (unix_micros <-> epoch_us) for portability. Streaming twin: session
    windows in streaming/windows.py."""
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = events.select(
        "user_id", "ts",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1000 * 1000), 1)
        .otherwise(0).alias("is_new"),
        "event_id")
    s = g.select(
        "user_id", "ts",
        F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"))
    return (s.groupBy("user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


@query("events_json_extract", """
    SELECT event_id,
           try_cast(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
""")
def events_json_extract(spark, sf_dir):
    """Typed extraction from a JSON props column (semi-structured columns
    are first-class in event pipelines)."""
    return _events(spark, sf_dir).select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k_value"))


# ---------------------------------------------------------------------
# Multimodal columns (binary payloads + typed metadata; decode stubbed -
# media codecs are not in this container, the Spark plumbing is real)
# ---------------------------------------------------------------------

@query("multimodal_feature_extract", """
    WITH m AS (SELECT unnest(range(0, 96)) AS i),
    f AS (SELECT i,
                 list_transform(range(0, 8),
                   h -> CAST(CAST(len(list_filter(range(0, 128 + i),
                        j -> (i * 31 + j * 7) % 8 = h)) AS DOUBLE)
                        / (128 + i) AS FLOAT)) AS feature
          FROM m)
    SELECT i AS media_id,
           (['image', 'audio', 'video'])[(i % 3) + 1] AS kind,
           CAST(128 + i AS BIGINT) AS n_bytes,
           CAST(feature[1] AS DOUBLE) AS f0, CAST(feature[2] AS DOUBLE) AS f1,
           CAST(feature[3] AS DOUBLE) AS f2, CAST(feature[4] AS DOUBLE) AS f3,
           CAST(feature[5] AS DOUBLE) AS f4, CAST(feature[6] AS DOUBLE) AS f5,
           CAST(feature[7] AS DOUBLE) AS f6, CAST(feature[8] AS DOUBLE) AS f7
    FROM f
""")
def multimodal_feature_extract(spark, sf_dir):
    """Arrow-batched mapInPandas feature extraction over binary media
    payloads (deterministic stub decoder; swap for a real codec and the
    schema/batching/partitioning stays identical).

    The stub 'decode' (byte-histogram of the seeded payload) is a pure
    function of the row index, so the SQL oracle reproduces it in closed
    form ((i*31 + j*7) % 256 % 8 == (i*31 + j*7) % 8 because 8 | 256) -
    the driver value-hashes the full mapInPandas round-trip: Arrow batch
    in, binary decode, feature out. The 8-dim feature vector is emitted
    as scalar DOUBLE columns f0..f7 (not array<float>): the verification
    harness canonicalizes by pandas-sorting every column, and list-typed
    cells are unhashable there; each element goes float32 -> float64 on
    BOTH engines (element_at cast here, feature[k] cast in the oracle) so
    the widening is bit-identical."""
    from .operators.multimodal import extract_features, synthesize_media
    tune(spark)
    feat = extract_features(synthesize_media(spark, n=96))
    return feat.select(
        "media_id", "kind", "n_bytes",
        *[F.element_at("feature", k + 1).cast("double").alias(f"f{k}")
          for k in range(8)])


@query("multimodal_media_stats", """
    WITH m AS (SELECT unnest(range(0, 96)) AS i)
    SELECT (['image', 'audio', 'video'])[(i % 3) + 1] AS kind,
           COUNT(*) AS n,
           CAST(SUM(128 + i) AS BIGINT) AS total_bytes,
           CAST(MAX(128 + i) AS INTEGER) AS max_bytes
    FROM m GROUP BY 1
""")
def multimodal_media_stats(spark, sf_dir):
    """Metadata-only profile of a media table - must not decode payloads
    (at 100 TB, stats queries read lengths, never bytes, and prune the
    payload column when the format allows). Payload sizes of the seeded
    table are closed-form (128 + i), so the stats are value-hash checked."""
    from .operators.multimodal import media_stats, synthesize_media
    tune(spark)
    return media_stats(synthesize_media(spark, n=96))


@query("multimodal_wav_decode", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    s AS (SELECT i,
                 list_transform(range(0, 64 + i),
                   j -> abs((((i * 31 + j * 7) % 256) - 128) * 256)) AS a
          FROM m)
    SELECT i AS media_id,
           8000 AS sample_rate,
           1 AS n_channels,
           CAST(64 + i AS BIGINT) AS n_frames,
           CAST((64 + i) * 125 AS BIGINT) AS duration_us,
           CAST(list_max(a) AS BIGINT) AS peak_amplitude,
           CAST(list_sum(a) AS BIGINT) AS total_abs_amplitude
    FROM s
""")
def multimodal_wav_decode(spark, sf_dir):
    """REAL audio codec path: genuine RIFF/WAVE payloads (PCM16, encoded
    by stdlib ``wave``) decoded back in Arrow batches - header fields and
    amplitude features all read from the byte stream. The synth samples
    are a closed form of the clip index, so DuckDB reproduces the decoded
    output exactly (integer arithmetic end to end) and the driver
    value-hashes a true encode->Spark->decode round trip, unlike the
    stubbed image path (multimodal_feature_extract)."""
    from .operators.multimodal import decode_wav_features, synthesize_wav_media
    tune(spark)
    return decode_wav_features(synthesize_wav_media(spark, n=48))


@query("multimodal_bmp_decode", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h FROM m),
    px AS (SELECT i, w, h, x, y,
                  (i*7 + x*3 + y*5) % 256 AS b,
                  (i*7 + x*3 + y*5 + 11) % 256 AS g,
                  (i*7 + x*3 + y*5 + 22) % 256 AS r
           FROM dims, range(0, 12) t1(x), range(0, 8) t2(y)
           WHERE x < w AND y < h)
    SELECT i AS media_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           COUNT(*) AS n_pixels,
           CAST(SUM(b) AS BIGINT) AS sum_blue,
           CAST(SUM(g) AS BIGINT) AS sum_green,
           CAST(SUM(r) AS BIGINT) AS sum_red,
           CAST(MAX(b + g + r) AS BIGINT) AS peak_rgb
    FROM px GROUP BY i, w, h
""")
def multimodal_bmp_decode(spark, sf_dir):
    """REAL image codec path (no codec library, mirrors
    multimodal_wav_decode): genuine 24-bpp uncompressed BMP payloads
    encoded with ``struct``, decoded back in Arrow batches - magic/DIB
    header parse, bottom-up stride walk with 4-byte row padding, exact
    integer channel sums all read from the byte stream
    (operators/multimodal.py::_bmp_pixels). Pixels are a closed form of
    (i, x, y), so DuckDB reproduces the decoded output exactly and the
    oracle check value-hashes a true encode->Spark->decode image round
    trip."""
    from .operators.multimodal import decode_bmp_features, synthesize_bmp_media
    tune(spark)
    return decode_bmp_features(synthesize_bmp_media(spark, n=48))


@query("multimodal_png_decode", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h FROM m),
    px AS (SELECT i, w, h, x, y,
                  (i*7 + x*3 + y*5) % 256 AS r,
                  (i*7 + x*3 + y*5 + 11) % 256 AS g,
                  (i*7 + x*3 + y*5 + 22) % 256 AS b
           FROM dims, range(0, 12) t1(x), range(0, 8) t2(y)
           WHERE x < w AND y < h)
    SELECT i AS media_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           COUNT(*) AS n_pixels,
           CAST(SUM(r) AS BIGINT) AS sum_red,
           CAST(SUM(g) AS BIGINT) AS sum_green,
           CAST(SUM(b) AS BIGINT) AS sum_blue,
           CAST(MAX(r + g + b) AS BIGINT) AS peak_rgb
    FROM px GROUP BY i, w, h
""")
def multimodal_png_decode(spark, sf_dir):
    """REAL compressed-image codec path (zlib + struct, extending
    multimodal_bmp_decode to a COMPRESSED container): genuine PNG
    payloads - signature, CRC-carrying IHDR/IDAT/IEND chunks, zlib
    deflate, scanline filters cycling through all five spec types - are
    decoded back in Arrow batches: chunk walk, inflate, five-filter
    reconstruction (Sub/Up/Average/Paeth inverses), exact integer
    channel sums, all from the byte stream
    (operators/multimodal.py::_png_pixels). Pixels are the same closed
    form of (i, x, y) as the BMP path (RGB channel order), so DuckDB
    reproduces the decoded output exactly and the driver value-hashes a
    true encode->deflate->Spark->inflate->unfilter round trip."""
    from .operators.multimodal import decode_png_features, synthesize_png_media
    tune(spark)
    return decode_png_features(synthesize_png_media(spark, n=48))


@query("multimodal_jpeg_decode", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 2 + i % 3 AS wb, 1 + i % 2 AS hb FROM m),
    blk AS (SELECT i, wb, hb, bx, by,
                   (i*13 + bx*17 + by*29) % 256 AS v
            FROM dims, range(0, 4) t1(bx), range(0, 2) t2(by)
            WHERE bx < wb AND by < hb)
    SELECT i AS media_id,
           CAST(8 * wb AS INTEGER) AS width,
           CAST(8 * hb AS INTEGER) AS height,
           CAST(64 * wb * hb AS BIGINT) AS n_pixels,
           COUNT(*) AS n_blocks,
           CAST(SUM(64 * v) AS BIGINT) AS sum_lum,
           CAST(MAX(v) AS BIGINT) AS peak_lum
    FROM blk GROUP BY i, wb, hb
""")
def multimodal_jpeg_decode(spark, sf_dir):
    """REAL transform-coded image codec path (no codec library,
    extending multimodal_png_decode to a LOSSY container): genuine
    ITU T.81 baseline JPEGs - SOI/DQT/SOF0/DHT/SOS markers, 8x8
    level-shifted DCT, quantization, zigzag, DC-differential + AC
    run-length Huffman coding with the spec's Annex K tables, 0xFF
    byte stuffing - decoded back in Arrow batches: marker walk,
    canonical Huffman rebuild, entropy decode, dequantize, IDCT,
    pixel stats, all from the byte stream. The synthesized corpus
    uses constant 8x8 blocks with a uniform quant of 8, for which
    quantize/dequantize is LOSSLESS (all signal in the DC term,
    which rounds back to the block value - see the JPEG notes in
    operators/multimodal.py), so the decoded sums equal the closed
    form of (i, bx, by) and the driver value-hashes a true
    encode->DCT->Huffman->Spark->decode round trip; the general
    lossy path is bounded in tests/test_multimodal.py."""
    from .operators.multimodal import (decode_jpeg_features,
                                       synthesize_jpeg_media)
    tune(spark)
    return decode_jpeg_features(synthesize_jpeg_media(spark, n=48))


@query("multimodal_image_resize", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 8 + i % 5 AS w, 6 + i % 3 AS h FROM m),
    opx AS (SELECT i, w // 2 AS ow, h // 2 AS oh, ox, oy
            FROM dims, range(0, 6) tx(ox), range(0, 4) ty(oy)
            WHERE ox < w // 2 AND oy < h // 2),
    ch AS (SELECT i, ow, oh, ox, oy,
             ((i*7 + (2*ox)*3 + (2*oy)*5) % 256
              + (i*7 + (2*ox+1)*3 + (2*oy)*5) % 256
              + (i*7 + (2*ox)*3 + (2*oy+1)*5) % 256
              + (i*7 + (2*ox+1)*3 + (2*oy+1)*5) % 256) // 4 AS b,
             ((i*7 + (2*ox)*3 + (2*oy)*5 + 11) % 256
              + (i*7 + (2*ox+1)*3 + (2*oy)*5 + 11) % 256
              + (i*7 + (2*ox)*3 + (2*oy+1)*5 + 11) % 256
              + (i*7 + (2*ox+1)*3 + (2*oy+1)*5 + 11) % 256) // 4 AS g,
             ((i*7 + (2*ox)*3 + (2*oy)*5 + 22) % 256
              + (i*7 + (2*ox+1)*3 + (2*oy)*5 + 22) % 256
              + (i*7 + (2*ox)*3 + (2*oy+1)*5 + 22) % 256
              + (i*7 + (2*ox+1)*3 + (2*oy+1)*5 + 22) % 256) // 4 AS r
           FROM opx)
    SELECT i AS media_id,
           CAST(ow AS INTEGER) AS width,
           CAST(oh AS INTEGER) AS height,
           CAST(ow * oh AS BIGINT) AS n_pixels,
           CAST(SUM(b) AS BIGINT) AS sum_blue,
           CAST(SUM(g) AS BIGINT) AS sum_green,
           CAST(SUM(r) AS BIGINT) AS sum_red,
           CAST(MAX(b + g + r) AS BIGINT) AS peak_rgb
    FROM ch GROUP BY i, ow, oh
""")
def multimodal_image_resize(spark, sf_dir):
    """The RESIZE leg of the multimodal north star (decode /
    feature-extract / resize / frame-sample): genuine BMP payloads are
    pixel-decoded, 2x2 box-downsampled with EXACT integer arithmetic
    (per-channel floor((p00+p10+p01+p11)/4), odd edges dropped), then
    RE-ENCODED as real BMP payloads - a payload-in/payload-out media
    transform whose output any downstream decode accepts - and finally
    run through the standard decode_bmp_features pass. Because the box
    filter is integer-only, the resized image is bit-deterministic and
    this oracle computes the resized channel sums in closed form from
    the synthesis formula. Operators: operators/multimodal.py
    (resize_bmp_half / _resize_half_box); composition proven by
    decoding what resize re-encoded."""
    from .operators.multimodal import (decode_bmp_features,
                                       resize_bmp_half,
                                       synthesize_bmp_media)
    tune(spark)
    return decode_bmp_features(
        resize_bmp_half(synthesize_bmp_media(spark, n=48)))


@query("multimodal_wav_energy", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    s AS (SELECT i, j, ((i*31 + j*7) % 256 - 128) * 256 AS v
          FROM m, range(0, 112) t(j) WHERE j < 64 + i),
    zc AS (SELECT a.i,
                  CAST(SUM(CASE WHEN a.v * b.v < 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS z
           FROM s a JOIN s b ON a.i = b.i AND b.j = a.j - 1
           GROUP BY a.i),
    fe AS (SELECT i, j // 16 AS f, CAST(SUM(v * v) AS BIGINT) AS e
           FROM s GROUP BY i, j // 16),
    pk AS (SELECT i, f, e,
                  row_number() OVER (PARTITION BY i ORDER BY e DESC, f)
                    AS rn
           FROM fe),
    tot AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_frames,
                   CAST(SUM(e) AS BIGINT) AS total_energy
            FROM fe GROUP BY i)
    SELECT t.i AS media_id, t.n_frames, zc.z AS zero_crossings,
           t.total_energy,
           CAST(p.f AS BIGINT) AS peak_frame_idx,
           p.e AS peak_frame_energy
    FROM tot t JOIN zc ON zc.i = t.i
               JOIN pk p ON p.i = t.i AND p.rn = 1
""")
def multimodal_wav_energy(spark, sf_dir):
    """Audio feature extraction beyond amplitude stats: zero-crossing
    rate and short-time frame energy over REAL RIFF/WAVE payloads -
    the PCM16 stream is decoded from bytes and reduced with exact
    integer arithmetic (strict sign-flip count; per-16-sample-frame
    sum of squares; peak frame = argmax with first-wins ties), so the
    classic voiced/unvoiced + loudness-localization features carry a
    closed-form oracle over the synthesis formula with zero float DSP.
    Operator: operators/multimodal.py::wav_energy_features (Arrow
    batches; samples never leave the executor)."""
    from .operators.multimodal import (synthesize_wav_media,
                                       wav_energy_features)
    tune(spark)
    return wav_energy_features(synthesize_wav_media(spark, n=48))


@query("multimodal_avi_frames", """
    WITH m AS (SELECT unnest(range(0, 48)) AS i),
    dims AS (SELECT i, 8 + 4 * (i % 3) AS w, 6 + i % 3 AS h,
                    6 + i % 5 AS nf FROM m),
    fr AS (SELECT i, w, h, nf, f
           FROM dims, range(0, 10) t(f)
           WHERE f < nf AND f % 2 = 0),
    px AS (SELECT i, w, h, nf, f,
                  (i*7 + f*31 + x*3 + y*5) % 256 AS v
           FROM fr, range(0, 16) tx(x), range(0, 8) ty(y)
           WHERE x < w AND y < h)
    SELECT i AS media_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS sum_lum,
           CAST(MAX(v) AS INTEGER) AS peak_lum
    FROM px GROUP BY i, f, w, h, nf
""")
def multimodal_avi_frames(spark, sf_dir):
    """REAL video path - the last stubbed modality retired: genuine
    RIFF/AVI containers (LIST hdrl with avih MainAVIHeader + vids/DIB
    stream headers, LIST movi of uncompressed 8-bit bottom-up DIB
    frames with 4-byte row padding, idx1 index), built and parsed
    without a codec library, FRAME-SAMPLED (every 2nd frame) in Arrow
    batches - the north-star video primitive where one payload row
    explodes into one row per sampled frame and pixels never leave the
    executor. Uncompressed DIB frames round-trip exactly, so the
    sampled-frame luminance stats have this closed-form oracle over
    (i, f, x, y). Codec + sampling: operators/multimodal.py
    (encode_avi_gray / _avi_frames / decode_avi_frames /
    sample_avi_frames)."""
    from .operators.multimodal import sample_avi_frames, synthesize_avi_media
    tune(spark)
    return sample_avi_frames(synthesize_avi_media(spark, n=48), stride=2)


# ---------------------------------------------------------------------
# Bench headliners (TPC-H-shaped, exercising scan+agg and join+agg paths)
# ---------------------------------------------------------------------

# q1's integer-cents limb width: per-row integer units split into
# (value div 2^20, value % 2^20) and summed as TWO plain longs, so the
# whole hot path is primitive codegen arithmetic. |lo| < 2^20 and
# hi <= value/2^20 bound BOTH partial sums by ~count * 2^20, so the
# long accumulators are exact up to ~8e12 rows PER GROUP (~1.3 PB of
# lineitem) - far past any per-group cardinality a 100 TB run sees;
# the recombine hi*2^20 + lo runs in decimal(38,0) on the one final
# row per group, where overflow is impossible and cost is nil.
_Q1_LIMB = 1 << 20


@query("q1_pricing_summary", f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DOUBLE)
               / 1000000.0 AS sum_charge,
           CAST(CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
    GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped pricing summary: the scan+aggregate throughput
    headliner. All sums integer-exact; filter pushes to the scan.

    Order matters (r3 regression, fixed): filter + project FIRST, widen
    AFTER. Widening the raw scan repartitioned all 16 lineitem columns
    and its barrier pinned the l_shipdate predicate above the scan -
    exactly the case session.no_pushdown_barrier's docstring forbids (a
    cheap comparison parquet row-group stats can prune). Narrow-first
    means the exchange moves 6 columns of pre-filtered rows and the
    predicate reaches PushedFilters.

    Exactness via INTEGER CENTS (r9 verdict item 3): the 2-decimal
    money columns become exact longs (intmoney.cents: floor(x*100+0.5)
    on the Spark side, round(x*100) in the oracle — identical nearest
    integers since 2-decimal money never lands on a .5 tie), the charge
    product price_c*(100-disc_c)*(100+tax_c) is a pure long multiply
    in micros, and the sums run as hi/lo limb pairs (_Q1_LIMB) so the
    whole per-row path stays in whole-stage-codegen primitives. The
    previous decimal(18,2/18,6) formulation kept compact-long Decimal
    sums but paid a per-row BigDecimal MULTIPLY chain for charge
    (Decimal.* always promotes); measured at the 100x point this
    reformulation is 12.2 -> 4.1 s with bit-identical output (the
    final double is round-to-double of the SAME exact integer on both
    engines, divided by the same exact power of ten)."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") <= "2001-08-06 00:00:00")
          .select("l_returnflag", "l_linestatus", "l_quantity",
                  "l_extendedprice", "l_discount", "l_tax"))
    # widen the (still single-split) filtered scan so the integer
    # partial aggregation runs on all cores (no-op at scale)
    li = widen_scan(li)
    # intmoney.cents = floor(x*100+0.5): same integers as the oracle's
    # round(), but pure Math.floor in codegen — Spark's Round(double)
    # allocates a BigDecimal per row (see functions/intmoney.py)
    qty_c = intmoney.cents("l_quantity")
    price_c = intmoney.cents("l_extendedprice")
    disc_c = intmoney.cents("l_discount")
    tax_c = intmoney.cents("l_tax")
    rows = li.select(
        "l_returnflag", "l_linestatus",
        qty_c.alias("qty_c"), price_c.alias("price_c"),
        (price_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c))
        .alias("charge_u"))

    def limb_sum(col: str, scale: float):
        # x = (x div L)*L + (x % L) holds for any long in Spark
        # (truncating div, sign-of-dividend remainder), so the pair of
        # long sums recombines to the exact integer total in decimal.
        hi = F.sum(F.expr(f"{col} div {_Q1_LIMB}"))
        lo = F.sum(F.col(col) % _Q1_LIMB)
        return ((hi.cast("decimal(38,0)") * _Q1_LIMB + lo)
                .cast("double") / F.lit(scale))

    return (rows.groupBy("l_returnflag", "l_linestatus")
            .agg(limb_sum("qty_c", 100.0).alias("sum_qty"),
                 limb_sum("price_c", 100.0).alias("sum_base_price"),
                 limb_sum("charge_u", 1000000.0).alias("sum_charge"),
                 (limb_sum("qty_c", 100.0) / F.count(F.lit(1)))
                 .cast("double").alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


@query("q3_top_revenue", f"""
    SELECT o.o_orderkey,
           CAST(SUM({intmoney.REV_UNITS_SQL}) AS DOUBLE) / 10000.0
             AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10
""")
def q3_top_revenue(spark, sf_dir):
    """TPC-H-Q3-shaped: selective dim filter -> broadcast join -> join on
    the fact -> top-k (TakeOrderedAndProject, no full sort). Revenue in
    exact integer 1e-4 units (functions.intmoney): the per-row product
    is a long multiply, projected BEFORE the join so the fact side
    ships (orderkey, rev_u) only; the per-ORDER sum is a plain long
    (overflow needs >8e9 lines in ONE order), converted to double once
    per output row — bit-identical to the oracle's integer SQL."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", intmoney.rev_units().alias("rev_u"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg((F.sum("rev_u").cast("double") / F.lit(10000.0))
                 .alias("revenue"))
            .select("o_orderkey", "revenue",
                    F.to_date("o_orderdate").alias("order_date"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
            .limit(10))


# Derived hot key mirroring the reference's own skew fixture (98.9% of
# rows belong to one company, SURVEY.md section 1.4): ~99% of orders land
# on the literal 'HOT', the rest keep their status. The skew_plain_agg /
# skew_salted_agg pair runs the SAME aggregation on this key - unsalted vs
# two-stage salted - as the measurable A/B for the skew posture.
_SKEW_KEY_SQL = """CASE WHEN o_orderkey % 100 <> 0 THEN 'HOT'
                        ELSE o_orderstatus END"""
_SKEW_AGG_SQL = f"""
    SELECT {_SKEW_KEY_SQL} AS hot_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM orders GROUP BY 1
"""


def _skewed_orders(spark, sf_dir):
    return _t(spark, sf_dir, "orders").withColumn(
        "hot_key",
        F.when(F.col("o_orderkey") % 100 != 0, F.lit("HOT"))
        .otherwise(F.col("o_orderstatus")))


@query("skew_plain_agg", _SKEW_AGG_SQL)
def skew_plain_agg(spark, sf_dir):
    """The unsalted baseline of the skew pair: straight groupBy on a key
    where one value owns ~99% of rows.

    Measured result (sf0.1, local[32]): plain WINS for this aggregate --
    SUM/COUNT are algebraic, so map-side partial aggregation collapses
    the hot key to one partial row per mapper and the hot reducer
    receives <= n_mappers rows, not 99% of the data. Salting buys
    nothing here and pays an extra hash on the salt column. It earns its
    keep where partials cannot reduce: holistic aggregates
    (collect_list, exact media over raw rows), high-cardinality
    per-key state, and skewed JOINs on engines/paths without AQE skew
    handling (operators/skew.py::salted_join).

    Sums run in exact integer cents with limb pairs (r13, the flagship
    conversion applied to both halves of the A/B pair so the skew
    comparison stays like-for-like): 1.47 -> 0.43 s at the 100x point,
    bit-identical."""
    return (_skewed_orders(spark, sf_dir)
            .select("hot_key", intmoney.cents("o_totalprice").alias("_t_c"))
            .groupBy("hot_key")
            .agg(intmoney.limb_sum_double("_t_c", 100.0).alias("total"),
                 F.count(F.lit(1)).alias("n")))


@query("skew_salted_agg", _SKEW_AGG_SQL)
def skew_salted_agg(spark, sf_dir):
    """Skew-safe two-stage aggregation on the ~99%-hot key: partial agg on
    (key, salt) spreads the hot key over 16 reducers, final agg combines -
    exact integer-cents limb sums (operators/skew.py::salted_sum_cents,
    r13 — the same conversion as skew_plain_agg, applied to BOTH halves
    so the A/B stays like-for-like; limb partials are decomposable, so
    the salted total is bit-identical to the plain GROUP BY and the
    same oracle as skew_plain_agg). tests/test_skew_stateful.py asserts
    the spread property (max per-reducer group share drops
    ~buckets-fold).

    Kept as the measurable A/B twin of skew_plain_agg: for algebraic
    sums the plain plan wins (map-side combine already kills the skew;
    see skew_plain_agg docstring for where salting IS the right tool)."""
    from .operators.skew import salted_sum_cents
    out = salted_sum_cents(_skewed_orders(spark, sf_dir).select(
        "hot_key", intmoney.cents("o_totalprice").alias("_t_c")),
        ["hot_key"], "_t_c",
        alias="total", scale=100.0, buckets=16, count_alias="n")
    return out.select("hot_key", "total", "n")


@query("skew_salted_join", """
    WITH f AS (
      SELECT CASE WHEN o_orderkey % 100 <> 0 THEN 1
                  ELSE o_custkey END AS c_custkey,
             o_totalprice
      FROM orders)
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM f JOIN customer c ON f.c_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
""")
def skew_salted_join(spark, sf_dir):
    """Completes the skew toolkit's JOIN leg (the agg leg is the
    skew_plain/salted_agg A/B): ~99% of fact rows are remapped to ONE
    customer key, the pathological shape where a plain shuffle join
    lands 99% of the data on a single task and map-side combine cannot
    help (joins have no partial aggregation). operators/skew.py::
    salted_join spreads it: fact rows get a deterministic xxhash64 salt
    in [0, 8), the dim side is replicated once per salt value via a
    broadcast range cross join, and the join key becomes (key, salt) -
    the hot key fans over 8 tasks. Exact same rows as the plain join
    (the DuckDB oracle IS the plain join), proven value-level here and
    row-level in tests/test_skew_stateful.py.

    100 TB posture: dim replication costs x buckets dim rows shuffled
    (customers are dim-sized, so 8x a small table), while the fact side
    gains bucket-fold parallelism on its hottest key - the standard
    trade when AQE's skewedJoin (which this repo enables) can't see or
    split the skew (e.g. holistic downstream state). Decimal sums make
    the published totals bit-identical to the oracle's plain join."""
    from .operators.skew import salted_join
    from .functions.cleaning import money
    o = _t(spark, sf_dir, "orders")
    fact = o.select(
        F.when(F.col("o_orderkey") % 100 != 0, F.lit(1))
        .otherwise(F.col("o_custkey")).cast("long").alias("c_custkey"),
        "o_totalprice")
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(fact, dim, "c_custkey", buckets=8)
    return (joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(money("o_totalprice")).cast("double").alias("total")))


@query("stream_sliding_panes", """
    WITH panes AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
               AS window_start,
             event_type
      FROM events, (SELECT unnest(range(0, 4)) AS k))
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM panes GROUP BY 1, 2
""")
def stream_sliding_panes(spark, sf_dir):
    """Sliding-window counts (1h window / 15min slide) in batch form: each
    event lands in 4 panes (Spark's Expand operator under F.window).
    Streaming twin: streaming/windows.py::sliding_agg_stream. Oracle
    derives the same panes via time_bucket arithmetic (epoch-aligned on
    both engines)."""
    events = _events(spark, sf_dir)
    return (events
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events"))


@query("agg_count_distinct", """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
""")
def agg_count_distinct(spark, sf_dir):
    """Distinct aggregation (beyond the reference surface - Spark expands
    it into a two-phase plan; approx_count_distinct is the sketch
    alternative when exactness isn't required at 100 TB)."""
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n_customers"),
                 F.count(F.lit(1)).alias("n_orders")))


@query("w1_running_total", """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
""")
def w1_running_total(spark, sf_dir):
    """Cumulative window aggregate per customer (decimal-exact running
    sums; deterministic frame via total order on (date, key))."""
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    from .functions.cleaning import money
    return o.select(
        "o_orderkey", "o_custkey",
        F.sum(money("o_totalprice")).over(w).cast("double")
        .alias("running_total"))


@query("h9_rollup_totals", """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def h9_rollup_totals(spark, sf_dir):
    """Hierarchical subtotals via ROLLUP (status -> priority -> grand
    total) - free from Catalyst (Expand operator), listed because the
    reference has no grouping-sets surface at all."""
    from .functions.cleaning import money
    return (_t(spark, sf_dir, "orders")
            .rollup("o_orderstatus", "o_orderpriority")
            .agg(F.sum(money("o_totalprice")).cast("double").alias("total"),
                 F.count(F.lit(1)).alias("n")))


@query("pivot_status_priority", """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_O,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_F,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_P
    FROM orders GROUP BY o_orderpriority
""")
def pivot_status_priority(spark, sf_dir):
    """Pivot (crosstab) with pinned pivot values - unpinned pivots need an
    extra values-collection job, so production pivots declare the domain."""
    out = (_t(spark, sf_dir, "orders")
           .groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["O", "F", "P"])
           .count())
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"))


@query("stats_percentiles", """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.95) AS p95,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus
""")
def stats_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark percentile <->
    DuckDB quantile_cont - same definition, bit-identical on doubles).
    At 100 TB swap for approx_percentile (stats_approx_quantiles)."""
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .agg(F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
                 F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
                 F.count(F.lit(1)).alias("n")))


@query("stats_approx_quantiles", """
    SELECT CAST(0.5 AS DOUBLE) AS p,
           quantile_cont(o_totalprice, 0.5) AS exact_value, 1 AS approx_ok
    FROM orders
    UNION ALL
    SELECT CAST(0.95 AS DOUBLE),
           quantile_cont(o_totalprice, 0.95), 1 FROM orders
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE),
           quantile_cont(o_totalprice, 0.99), 1 FROM orders
""")
def stats_approx_quantiles(spark, sf_dir):
    """Approximate quantiles (Greenwald-Khanna sketch) - the mergeable
    100 TB profiling path (exact percentile buffers every value per
    group; the sketch is fixed-size and mergeable across partitions).

    The sketch estimate cannot be value-hashed cross-engine (GK here,
    t-digest in DuckDB), so like agg_approx_distinct the entry emits the
    EXACT interpolated percentile PLUS an accuracy verdict: approx_ok = 1
    iff the approx_percentile(accuracy=10000, guaranteed rank error
    <= n/10000) lands between the exact interpolated quantiles at
    p +- 0.001 (a 10x margin over the guarantee at sf0.01's n). The
    oracle asserts every verdict is 1 - a real bound on the sketch,
    hash-checked by the driver."""
    probs = [0.5, 0.95, 0.99]
    eps = 0.001
    agg = (_t(spark, sf_dir, "orders").agg(
        F.expr(f"percentile(o_totalprice, array({','.join(str(p) for p in probs)}))")
        .alias("exact"),
        F.expr("approx_percentile(o_totalprice, array(" +
               ",".join(str(p) for p in probs) + "), 10000)").alias("approx"),
        F.expr("percentile(o_totalprice, array(" +
               ",".join(str(max(0.0, p - eps)) for p in probs) + "))").alias("lo"),
        F.expr("percentile(o_totalprice, array(" +
               ",".join(str(min(1.0, p + eps)) for p in probs) + "))").alias("hi")))
    exploded = agg.select(
        F.posexplode(F.array(*[F.lit(float(p)) for p in probs]))
        .alias("i", "p"),
        "exact", "approx", "lo", "hi")
    ok = ((F.col("approx")[F.col("i")] >= F.col("lo")[F.col("i")])
          & (F.col("approx")[F.col("i")] <= F.col("hi")[F.col("i")]))
    return exploded.select(
        "p", F.col("exact")[F.col("i")].alias("exact_value"),
        F.when(ok, 1).otherwise(0).alias("approx_ok"))


@query("text_levenshtein_pairs", """
    WITH sub AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 40)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
    FROM sub a, sub b
    WHERE a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 3
""")
def text_levenshtein_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs on a bounded subset (classic DP -
    identical integers in both engines). The fuzzy-matching primitive for
    entity resolution; at scale gated behind cheap blocking keys."""
    sub = _t(spark, sf_dir, "customer") \
        .filter(F.col("c_custkey") < 40).select("c_custkey", "c_name")
    a = sub.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("na"))
    b = sub.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("nb"))
    dist = F.levenshtein(F.col("na"), F.col("nb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", dist.alias("edit_dist"))
            .filter(F.col("edit_dist") <= 3))


@query("dates_derived", """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_epoch_start
    FROM orders
""")
def dates_derived(spark, sf_dir):
    """Calendar-function pack: extraction, ISO weekday, interval add,
    day-diff (Spark weekday+1 == DuckDB isodow; datediff arg order
    differs between engines - pinned here)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.to_date("o_orderdate"),
                   F.lit("1995-01-01").cast("date")).alias("days_since_epoch_start"))


@query("text_tfidf_top_terms", """
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
    df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(df.df AS BIGINT) AS df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
    SELECT doc_id, tok, tf, df, score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
          FROM scored)
    WHERE rnk <= 3
""")
def text_tfidf_top_terms(spark, sf_dir):
    """Top-3 most distinctive terms per document by a log-free tf-idf
    (score = tf * N / df - exact integer arithmetic divided once in
    double, so the ranking cross-hashes; classical log-idf only reorders
    monotonically in df and would differ in low bits between libm
    implementations). Plan: explode -> (doc,term) agg -> term df agg ->
    equi-join on term + broadcast 1-row N -> per-doc top-k window.
    Deterministic ties (term asc)."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    tf = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(dfreq, "tok").crossJoin(F.broadcast(n))
              .select("doc_id", "tok", "tf", "df",
                      ((F.col("tf") * F.col("n_docs")).cast("double")
                       / F.col("df")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("tok").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "tok", "tf", "df", "score",
                    F.col("rnk").cast("int").alias("rnk")))


@query("dedup_cluster_components", """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE [] END AS shingles
      FROM toks),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
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
    bands AS (
      SELECT doc_id, b.band_id, b.band_key FROM sig,
      LATERAL (VALUES
        (0, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)),
        (1, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)),
        (2, CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)),
        (3, CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR))
      ) AS b(band_id, band_key)),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sh a ON a.doc_id = c.id_a
                  JOIN sh b ON b.doc_id = c.id_b
      WHERE (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) > 0
        AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION SELECT id_b, id_a FROM verified
      UNION SELECT id_a, id_a FROM verified
      UNION SELECT id_b, id_b FROM verified),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
    SELECT a AS vertex, min(b) AS component_id FROM reach GROUP BY 1
""")
def dedup_cluster_components(spark, sf_dir):
    """Near-dup CLUSTERS from the verified MinHash pair graph: connected
    components by iterative min-label propagation (operators/dedup.py) -
    the iterative-algorithm pattern on Spark (driver convergence loop,
    localCheckpoint lineage truncation). component_id = smallest doc_id
    in the cluster, i.e. the keeper a transitive dedup policy retains.
    The oracle reproduces the SAME fixpoint with a recursive CTE
    (transitive closure + min over reachable set) - exact agreement, so
    the driver value-hashes an iterative distributed algorithm."""
    pairs = dedup.minhash_near_dups(
        _t(spark, sf_dir, "documents"), num_hashes=8, bands=4, threshold=0.5)
    return dedup.connected_components(pairs)


@query("data_split_assign", """
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 2))::BIGINT AS INTEGER) AS bucket,
           CASE WHEN ('0x' || substr(md5(text), 1, 2))::BIGINT < 204 THEN 'train'
                WHEN ('0x' || substr(md5(text), 1, 2))::BIGINT < 230 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
""")
def data_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (~80/10/10) keyed on CONTENT
    hash, not row id: byte-identical documents always land in the same
    split whatever their ids, so exact duplicates can never leak across
    the train/eval boundary - the property a rand() or id-hash split
    silently lacks. Reproducible across runs, engines, partitionings; a
    narrow map stage (no shuffle) at any scale."""
    bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 2), 16, 10) \
        .cast("int")
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", bucket.alias("bucket"),
                    F.when(bucket < 204, "train")
                    .when(bucket < 230, "val")
                    .otherwise("test").alias("split")))


@query("pipeline_training_data", """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    hits AS (
      SELECT doc_id, text, toks,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
        len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS h_de,
        len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS h_en,
        len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un'))) AS h_es,
        len(list_filter(toks, x -> x IN ('le','la','de','et','un','est','que'))) AS h_fr
      FROM t),
    langed AS (
      SELECT *, CASE WHEN greatest(h_de,h_en,h_es,h_fr) > 0 THEN
          CASE greatest(h_de,h_en,h_es,h_fr) WHEN h_fr THEN 'fr' WHEN h_es THEN 'es'
               WHEN h_en THEN 'en' WHEN h_de THEN 'de' END
        ELSE 'und' END AS predicted_lang
      FROM hits),
    quality AS (
      SELECT * FROM langed
      WHERE predicted_lang = 'en' AND n_tokens >= 20 AND distinct_ratio >= 0.35),
    uniq AS (
      SELECT * FROM quality
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [] END AS shingles
      FROM uniq),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
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
    bands AS (
      SELECT doc_id, b.band_id, b.band_key FROM sig,
      LATERAL (VALUES
        (0, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)),
        (1, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)),
        (2, CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)),
        (3, CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR))
      ) AS b(band_id, band_key)),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id),
    dropped AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
      WHERE (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) > 0
        AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
    survivors AS (
      SELECT u.doc_id, u.text, u.toks,
             CASE WHEN ('0x' || substr(md5(u.text), 1, 2))::BIGINT < 204 THEN 'train'
                  WHEN ('0x' || substr(md5(u.text), 1, 2))::BIGINT < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM uniq u ANTI JOIN dropped d ON u.doc_id = d.doc_id),
    chunks AS (
      SELECT s.doc_id, s.split,
             CAST(least(32, len(s.toks) - st.s) AS INTEGER) AS n_chunk_tokens
      FROM survivors s,
           LATERAL (SELECT unnest(range(0, len(s.toks), 16)) AS s) AS st)
    SELECT split,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens_total
    FROM chunks GROUP BY 1
""")
def pipeline_training_data(spark, sf_dir):
    """THE capstone: produce training data end to end - curation funnel
    (lang -> quality -> exact dedup -> near-dup removal), leakage-safe
    content-hash train/val/test split, overlapping-window chunking, and
    per-split doc/chunk/token accounting, as ONE declarative plan whose
    final 3-row summary the oracle value-hashes. This is the query a
    100 TB pre-training pipeline runs nightly; every stage is the
    already-verified operator (curate_documents + split + chunk_windows)
    composed, not reimplemented."""
    from .operators.curate import curate_documents
    from .operators.text import chunk_accounting_cols
    tune(spark)
    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint: the survivor set feeds BOTH the split branch and
    # the chunk branch; without materialization Spark recomputes the
    # whole funnel (minhash sketches included) once per branch -
    # measured 4.3 -> 3.2 s warm at sf0.1. The checkpointed frame is
    # only (doc_id) - tiny at any corpus scale.
    surv_ids = curate_documents(docs).select("doc_id").localCheckpoint()
    kept = docs.join(surv_ids, "doc_id", "left_semi")
    bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 2), 16, 10) \
        .cast("int")
    split = (F.when(bucket < 204, "train")
             .when(bucket < 230, "val").otherwise("test"))
    # Chunk accounting in closed form (r14): the summary only COUNTS
    # chunks and sums their token lengths, so exploding one row per
    # chunk (with its never-used chunk_text) and joining the chunk
    # rows back to the split column on doc_id computed rows just to
    # throw them away — chunk_accounting_cols yields the identical
    # integer (K, sum) per document as two expressions, the split
    # rides the same projection, and the join with its exchange is
    # gone from the plan (guide §1.2 step 1 / §2.4; measured at sf0.1
    # the chunk tail fell 0.62 -> 0.41 s from a checkpointed survivor
    # set, 100x flat; per-doc closed form verified 0-mismatch against
    # the exploded chunk_windows on the full corpus and by
    # test_text edge cases). Every kept doc has n_tokens >= 20 > 0, so
    # the K >= 1 filter only re-states chunk_windows' docs-with-rows
    # semantics for exactness.
    k_col, s_col = chunk_accounting_cols("text", window=32, stride=16)
    staged = kept.select(split.alias("split"), k_col.alias("_k"),
                         s_col.alias("_s"))
    return (staged.filter(F.col("_k") >= 1)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_k").cast("long").alias("n_chunks"),
                 F.sum("_s").cast("long").alias("n_tokens_total")))


@query("embed_quantize_int8", """
    WITH s AS (
      SELECT vec_id, embedding,
             list_reduce(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)) AS scale
      FROM embeddings)
    SELECT vec_id, scale,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           CASE WHEN scale > 0 THEN
             list_reduce(list_transform(embedding,
               x -> (CAST(x AS DOUBLE)
                     - floor(CAST(x AS DOUBLE) * 127 / scale + 0.5)
                       * scale / 127)
                    * (CAST(x AS DOUBLE)
                       - floor(CAST(x AS DOUBLE) * 127 / scale + 0.5)
                         * scale / 127)),
               (a, b) -> a + b)
           ELSE 0.0 END AS sq_err
    FROM s
""")
def embed_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization of embeddings (per-vector max-abs scale,
    symmetric) with the exact reconstruction error - the compression
    step a 100 TB vector store applies before ANN (4x smaller, distance
    bounds preserved). Quantization uses floor(v + 0.5) instead of
    round() (identical semantics in both engines; round() differs in
    half-way tie direction between Java and C), and the error folds
    sequentially in double - the repo's standard recipe - so the per-
    vector error is bit-identical cross-engine. Narrow map stage, no
    shuffle, no UDF."""
    x = lambda c: c.cast("double")
    arr = F.col("embedding")
    scale = F.array_max(F.transform(arr, lambda v: F.abs(x(v))))
    def recon_err(v):
        q = F.floor(x(v) * 127 / F.col("scale") + F.lit(0.5))
        d = x(v) - q * F.col("scale") / 127
        return d * d
    err = F.aggregate(arr, F.lit(0.0),
                      lambda acc, v: acc + recon_err(v))
    return (_t(spark, sf_dir, "embeddings")
            .select("vec_id", scale.alias("scale"),
                    F.size(arr).cast("int").alias("n_dims"), "embedding")
            .select("vec_id", "scale", "n_dims",
                    F.when(F.col("scale") > 0, err)
                    .otherwise(F.lit(0.0)).alias("sq_err")))
