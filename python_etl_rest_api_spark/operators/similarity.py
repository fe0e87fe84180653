"""Similarity search over embedding columns (extension surface).

Every path reads ``embeddings`` (vec_id, embedding: array<float>, label)
and a small query frame (qid, qv), and answers in one pipeline: generate
candidates, verify them by exact cosine, rank them per query (ties
broken by neighbor id).

- Brute force (``topk_bruteforce``): every corpus vector is a candidate.
  The exactness baseline; the query set is broadcast against the corpus.
- SRP (``srp_buckets``, ``topk_ann_srp``): random-hyperplane LSH. tables
  x bits md5-derived hyperplanes give sign bits, packed into one bucket
  key per table; candidates share a (table, bucket) with the query. At
  100 TB the bucket join replaces the corpus-wide cross product; recall
  tunes with tables x bits.
- IVF (``ivf_centroids``, ``ivf_assignments``, ``topk_ann_ivf``): an
  inverted file of centroid cells; candidates sit in the query's
  ``nprobe`` nearest cells.
- PQ (``pq_codebooks``, ``pq_encode``, ``topk_ann_pq``): m_sub one-byte
  codes per vector; candidates are the top ``pool`` by Asymmetric
  Distance Computation (ADC) over the codes.
- IVF-PQ (``topk_ann_ivfpq``): ADC over the probed IVF cells only.
- MMR (``mmr_rerank``): greedy relevance/diversity re-rank of a
  brute-force pool.

``operators/ann_index.py`` persists the SRP, IVF and PQ artifacts and
serves from them through the same candidate and re-rank code.

Sequential-fold rule: every dot product, norm and squared distance is a
left-to-right fold over dimensions in float64 (0.0 + x1*y1 + x2*y2 +
...): ``dot`` (F.aggregate) on the JVM side, ``_seq_dot`` in the numpy
kernels, and ADC scores add their m_sub table entries in subspace order
the same way. That is DuckDB's ``list_reduce`` order, so the SQL oracle
reproduces cosine values, SRP bucket keys, IVF cells, PQ codes, ADC
scores and every ranking bit for bit. Never switch a fold to matmul or
np.dot: blocked, SIMD or fused multiply-add summation rounds
differently, and a sign or an argmin near its decision boundary would
then disagree with the oracle.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import local_frame, widen_scan
from ..worker_imports import steady_zip_imports

# The UDF kernels call this module's numpy helpers. Pickling the module
# by value ships those helpers inside each UDF, so a Python worker needs
# numpy and pandas on its path, not this package (worker_imports is
# pickled by value too).
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double: 0.0 + p1 + p2 + ...
    (0.0 + x == x in IEEE, so this equals DuckDB's init-less list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm guard: an all-zero (or empty) vector has no direction;
    # similarity is undefined -> NULL, never an ANSI divide-by-zero
    # (fuzz-sweep hardening; unreachable on non-degenerate corpora).
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def valid_vectors(df: DataFrame, vec_col: str = "embedding",
                  dim: int | None = None) -> DataFrame:
    """Drop rows whose vector is NULL or empty - and, when ``dim`` is
    given, whose length differs from the index geometry - before any
    numpy/fold consumer: partial or corrupt upstream records must
    degrade to exclusion from the vector index, not kill the job
    (null/fuzz-sweep hardening; stacking a batch containing None or
    ragged lengths raises). Degenerate rows carry no usable geometry,
    so every consumer's semantics is unchanged on clean data."""
    cond = F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    if dim is not None:
        cond = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    return df.filter(cond)


# -- numpy kernels -----------------------------------------------------

def _seq_sum(n: int, term) -> np.ndarray:
    """term(0) + term(1) + ... + term(n - 1), added left to right onto
    0.0 in float64: the one fold every numpy kernel runs."""
    acc = np.float64(0.0)
    for i in range(n):
        acc = acc + term(i)
    return acc


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot product over the last axis, vectorised over the broadcast
    leading axes."""
    return _seq_sum(a.shape[-1], lambda d: a[..., d] * b[..., d])


def _cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine over the last axis; NaN where a norm is zero (the
    ``cosine`` expression's NULL), so the row fails every threshold."""
    denom = np.sqrt(_seq_dot(a, a)) * np.sqrt(_seq_dot(b, b))
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(denom > 0, _seq_dot(a, b) / denom, np.nan)


def _matrix(col: pd.Series, dtype=np.float64) -> np.ndarray:
    """(n, width) matrix from a batch of an equal-length array column."""
    return np.vstack(col.to_numpy()).astype(dtype, copy=False)


def _rows(mat: np.ndarray) -> pd.Series:
    """One array cell per matrix row: the output of an array UDF."""
    return pd.Series(list(mat))


def _seed_vectors(corpus: DataFrame, n: int, dim: int, id_col: str,
                  vec_col: str) -> np.ndarray:
    """The ``n`` lowest-id valid vectors as an (n', dim) matrix, n' <= n:
    deterministic seeding without RNG state, which the oracle repeats."""
    seeds = (valid_vectors(corpus, vec_col, dim).orderBy(id_col)
             .limit(n).select(vec_col).collect())
    return np.array([r[0] for r in seeds], dtype=np.float64).reshape(-1, dim)


# -- ranking tails -----------------------------------------------------

def _top_k(df: DataFrame, score_col: str, k: int, id_col: str,
           qid_col: str) -> DataFrame:
    """The ``k`` best rows per query by ``score_col`` (ties: lower id),
    numbered 1..k in ``rank``."""
    w = Window.partitionBy(qid_col).orderBy(F.col(score_col).desc(),
                                            F.col(id_col).asc())
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _rerank(cand: DataFrame, k: int, id_col: str, vec_col: str,
            qid_col: str, *keep: str) -> DataFrame:
    """Exact cosine over (qid, qv, id, vec) candidates, then the top k:
    (qid, id, *keep, sim, rank)."""
    pairs = cand.select(qid_col, id_col, *keep,
                        cosine(F.col("qv"), F.col(vec_col)).alias("sim"))
    return _top_k(pairs, "sim", k, id_col, qid_col)


def _probes(queries: DataFrame, assign, keys: tuple[str, ...],
            id_col: str, vec_col: str, qid_col: str) -> DataFrame:
    """Run a corpus-side assigner (``srp_buckets``/``ivf_assignments``)
    over the query frame: (qid, qv, q_<key> for each key column)."""
    out = assign(queries.select(F.col(qid_col).alias(id_col),
                                F.col("qv").alias(vec_col)))
    return out.select(F.col(id_col).alias(qid_col), F.col(vec_col).alias("qv"),
                      *[F.col(c).alias(f"q_{c}") for c in keys])


def _probe_top_k(index: DataFrame, queries: DataFrame, assign,
                 keys: tuple[str, ...], k: int, id_col: str, vec_col: str,
                 qid_col: str, corpus: DataFrame | None = None
                 ) -> DataFrame:
    """The SRP/IVF serve tail: index rows that share every ``keys``
    value with one of a query's probe rows are its candidates (once per
    pair, self excluded), re-ranked by exact cosine. A stored index
    holds no vectors; ``corpus`` then supplies them by id."""
    probes = _probes(queries, assign, keys, id_col, vec_col, qid_col)
    cond = F.col(keys[0]) == F.col(f"q_{keys[0]}")
    for c in keys[1:]:
        cond = cond & (F.col(c) == F.col(f"q_{c}"))
    cols = [qid_col, "qv", id_col] + ([vec_col] if corpus is None else [])
    cand = (index.join(F.broadcast(probes),
                       cond & (F.col(qid_col) != F.col(id_col)))
            .select(*cols).dropDuplicates([qid_col, id_col]))
    if corpus is not None:
        cand = cand.join(corpus.select(id_col, vec_col), id_col)
    return _rerank(cand, k, id_col, vec_col, qid_col)


# -- brute force -------------------------------------------------------

def topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "qid") -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    queries: (qid, qv) - small; broadcast against the corpus so the corpus
    never shuffles. Ranking window partitions by qid (k small -> window
    state tiny); ties broken by neighbor id for determinism.
    """
    # widen: the per-row dot-product fold (64 double multiplies per
    # query) is CPU-bound; an under-split corpus scan serializes it
    # (12 of 32 cores at the 100x point). No-op at real scan widths.
    corpus = widen_scan(valid_vectors(corpus, vec_col))
    queries = valid_vectors(queries, "qv")
    pairs = corpus.join(F.broadcast(queries),
                        F.col(qid_col) != F.col(id_col))
    return _rerank(pairs, k, id_col, vec_col, qid_col)


def seq_cosine_udf():
    """Arrow-batched cosine over two array columns, vectorised across the
    batch and folded by the module's sequential-fold rule, so values
    equal the ``cosine()`` expression and the SQL oracle bit for bit
    while running ~5x faster than the interpreted per-element lambda on
    pair frames (measured on the 20k-pair near-dup verify at sf0.01)."""

    @pandas_udf("double")
    def seq_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
        steady_zip_imports()
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        lens = {len(v) for v in va} | {len(v) for v in vb}
        if len(lens) == 1 and lens != {0}:
            return pd.Series(_cosine(_matrix(va), _matrix(vb)))
        # ragged batch (corrupt upstream vectors): score each pair only
        # when lengths agree and are nonzero; NaN otherwise - NaN fails
        # every >= threshold comparison, so corrupt rows self-exclude
        # (fuzz-sweep hardening, never hit on clean corpora).
        return pd.Series(
            [float(_cosine(np.asarray(x, dtype=np.float64),
                           np.asarray(y, dtype=np.float64)))
             if len(x) == len(y) and len(x) > 0 else np.nan
             for x, y in zip(va, vb)], dtype="float64")

    return seq_cosine


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.9,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_id: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force on a bounded subset;
    the scale path is srp_buckets + bucket join). The pair verify runs
    through the Arrow-batched sequential fold (seq_cosine_udf) — exact
    same values as the expression fold, far cheaper on O(n^2) pairs."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    base = valid_vectors(base, vec_col)
    sim = seq_cosine_udf()
    a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    sim(F.col("va"), F.col("vb")).alias("sim"))
            .filter(F.col("sim") >= threshold))


# -- SRP ---------------------------------------------------------------

def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 bytes (no RNG state,
    reproducible across runs/engines/partitions)."""
    import hashlib
    vals = []
    for i in range(dim):
        h = hashlib.md5(f"srp:{plane}:{i}".encode()).hexdigest()
        # map first 8 hex chars to [-1, 1)
        vals.append(int(h[:8], 16) / float(1 << 31) - 1.0)
    return vals


def srp_buckets(df: DataFrame, dim: int, bits: int = 16, tables: int = 1,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Multi-table signed-random-projection bucketing: per table t, the
    bucket key packs ``bits`` sign bits of hyperplane projections (plane
    t*bits + b is bit b). Output is one row per (vector, table) -
    candidates share (table_id, bucket_key). More tables -> higher
    recall at linear cost.

    The projection is a vectorized Pandas UDF - the canonical case where
    built-in expressions can't express the computation efficiently:
    tables x bits hyperplanes as native per-element folds build an
    enormous interpreted expression (measured minutes for 24 planes on
    500 vectors); the numpy version is milliseconds.
    """
    planes = np.array([_hyperplane(dim, j) for j in range(tables * bits)])
    weights = 1 << np.arange(bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def bucket_keys(embs: pd.Series) -> pd.Series:
        steady_zip_imports()
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        mat = _matrix(embs)                                  # (n, dim)
        signs = _seq_dot(mat[:, None, :], planes[None]) >= 0  # (n, T*B)
        return _rows(signs.reshape(len(mat), tables, bits) @ weights)

    df = valid_vectors(df, vec_col, dim)
    return (df.select(id_col, vec_col,
                      F.posexplode(bucket_keys(F.col(vec_col)))
                      .alias("table_id", "bucket_key")))


def topk_ann_srp(corpus: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, bits: int = 8, tables: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "qid") -> DataFrame:
    """ANN top-k: SRP-bucket the corpus once (L tables), probe with the
    query's buckets, distinct candidates, exact cosine re-rank. Recall < 1
    by design (tunable via bits x tables); bruteforce is the exactness
    baseline. At 100 TB the bucketed equi-join replaces the corpus-wide
    cross product and the corpus side shuffles only on bucket keys."""
    def assign(df):
        return srp_buckets(df, dim, bits, tables, id_col, vec_col)
    return _probe_top_k(assign(corpus), queries, assign,
                        ("table_id", "bucket_key"), k, id_col, vec_col,
                        qid_col)


# -- IVF ---------------------------------------------------------------

def ivf_assignments(df: DataFrame, centroids: np.ndarray, nprobe: int = 1,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (cosine) via
    one Arrow-batched numpy pass against the broadcast centroid matrix — no
    shuffle, no per-centroid scan. Output: (id, vec, centroid_id) with one
    row per probe. Ties broken by centroid index (argsort is stable). The
    cosine follows the sequential-fold rule, so the cell assignment (and
    hence the whole IVF candidate set) is value-checkable by SQL."""
    if nprobe < 1:
        # argsort[:, :0] would assign ZERO probes and every downstream
        # serve would silently return no neighbors — contract error.
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cm = np.asarray(centroids, dtype=np.float64)                 # (k, dim)

    @pandas_udf("array<long>")
    def nearest(embs: pd.Series) -> pd.Series:
        steady_zip_imports()
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        sims = _cosine(_matrix(embs)[:, None, :], cm[None])     # (n, k)
        return _rows(np.argsort(-sims, axis=1, kind="stable")[:, :nprobe])

    df = valid_vectors(df, vec_col, int(cm.shape[1]) if cm.ndim == 2 else None)
    return df.select(id_col, vec_col,
                     F.explode(nearest(F.col(vec_col))).alias("centroid_id"))


def ivf_centroids(corpus: DataFrame, n_centroids: int, dim: int,
                  refine_steps: int = 1, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> np.ndarray:
    """Deterministic IVF codebook: seed with the ``n_centroids`` smallest
    ids (reproducible without RNG state), then ``refine_steps`` Lloyd
    iterations — each is one distributed assign (numpy UDF) + one groupBy
    mean per (centroid, position) — the k-means training loop expressed as
    Spark aggregates, driver holding only the (k, dim) codebook (0 rows on
    an empty corpus)."""
    cent = _seed_vectors(corpus, n_centroids, dim, id_col, vec_col)
    for _ in range(refine_steps):
        assigned = ivf_assignments(corpus, cent, nprobe=1, id_col=id_col,
                                   vec_col=vec_col)
        means = (assigned
                 .select("centroid_id",
                         F.posexplode(vec_col).alias("pos", "val"))
                 .groupBy("centroid_id", "pos")
                 .agg(F.avg("val").alias("m"))
                 .collect())
        cent = cent.copy()
        for r in means:
            cent[r.centroid_id, r.pos] = r.m
    return cent


def topk_ann_ivf(corpus: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, n_centroids: int = 16, nprobe: int = 8,
                 refine_steps: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "qid") -> DataFrame:
    """IVF ANN top-k: partition the corpus into centroid cells (inverted
    file), probe each query's ``nprobe`` nearest cells, exact cosine
    re-rank on the candidates. The scale shape: corpus is assigned once
    (map-only), candidate generation is an equi-join on centroid_id, and
    recall tunes with nprobe/n_centroids — complementary to SRP-LSH
    (topk_ann_srp), which buckets by random hyperplanes instead of learned
    cells."""
    cent = ivf_centroids(corpus, n_centroids, dim, refine_steps=refine_steps,
                         id_col=id_col, vec_col=vec_col)
    inv = ivf_assignments(corpus, cent, nprobe=1, id_col=id_col,
                          vec_col=vec_col)
    return _probe_top_k(
        inv, queries,
        lambda q: ivf_assignments(q, cent, nprobe, id_col, vec_col),
        ("centroid_id",), k, id_col, vec_col, qid_col)


# -- MMR ---------------------------------------------------------------

def pairwise_cosine(vecs: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Directed pairwise cosine matrix over a SMALL frame (candidate
    pools, codebooks): all (a, b), a != b, expression-fold in double.
    Quadratic by construction — callers must pass a bounded pool."""
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (a.join(b, F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b",
                    cosine(F.col("va"), F.col("vb")).alias("sim")))


def mmr_rerank(corpus: DataFrame, query: DataFrame, pool: int = 12,
               k: int = 5, lam: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> list[tuple[int, int, float, float]]:
    """Maximal-marginal-relevance re-rank: greedy top-k balancing
    relevance to the query against redundancy with already-selected
    results — score(d) = lam*rel(d) - (1-lam)*max_{s in S} sim(d, s).

    Distribution of work follows the data sizes: candidate-pool
    selection (top-``pool`` by cosine) and the pool's pairwise sim
    matrix are DISTRIBUTED (the corpus-sized work); the greedy loop
    runs on the driver over the collected pool*(pool-1) sims — bounded
    by the pool parameter exactly like TakeOrderedAndProject's driver
    merge, never corpus-sized. Ties break on candidate id; float ops
    are plain IEEE double (0.7*rel - 0.3*maxsim), bit-identical to the
    SQL oracle's expression. The corpus is ranked once: the pool is
    collected first and its vectors are fetched back by id.

    Returns [(rank, id, relevance, mmr_score)] with rank 1..k.
    """
    rel = {r[id_col]: r.sim
           for r in topk_bruteforce(corpus, query, k=pool, id_col=id_col,
                                    vec_col=vec_col).collect()}
    pool_vecs = corpus.filter(F.col(id_col).isin(list(rel)))
    sims = {(r.id_a, r.id_b): r.sim
            for r in pairwise_cosine(pool_vecs, id_col, vec_col).collect()}

    selected: list[tuple[int, int, float, float]] = []
    chosen: list[int] = []
    while len(selected) < min(k, len(rel)):
        best = None
        for d, r in rel.items():
            if d in chosen:
                continue
            if chosen:
                maxsim = max(sims[(d, s)] for s in chosen)
                score = lam * r - (1.0 - lam) * maxsim
            else:
                score = lam * r
            # argmax with deterministic id tiebreak
            if best is None or score > best[1] or \
                    (score == best[1] and d < best[0]):
                best = (d, score)
        chosen.append(best[0])
        selected.append((len(selected) + 1, best[0], rel[best[0]], best[1]))
    return selected


# -- PQ and IVF-PQ -----------------------------------------------------

def pq_codebooks(corpus: DataFrame, n_codewords: int = 16, m_sub: int = 4,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> np.ndarray:
    """Product-quantization codebooks: split the vector into ``m_sub``
    contiguous subspaces; codebook m = subvectors m of the
    ``n_codewords`` lowest-id vectors (deterministic seeding, same
    convention as ivf_centroids refine_steps=0 - no RNG, no
    order-dependent float means, so the SQL oracle reproduces the
    codebooks exactly). Returns (m_sub, n_codewords, dim/m_sub), with 0
    codewords on an empty corpus. Driver holds only the codebook
    (k x dim floats), never the corpus."""
    cb = _seed_vectors(corpus, n_codewords, dim, id_col, vec_col)
    return cb.reshape(len(cb), m_sub, dim // m_sub).transpose(1, 0, 2)


def pq_encode(corpus: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as ``m_sub`` one-byte codes: per subspace,
    the codeword minimizing squared L2 distance (ties -> lowest codeword
    index, numpy argmin first-occurrence == SQL ORDER BY d, c). One
    Arrow-batched map pass, no shuffle: this is the compression step
    that turns a 256-byte float vector into m_sub bytes - the
    representation a billion-vector corpus actually stores."""
    cb = np.asarray(codebooks, dtype=np.float64)             # (m, K, s)
    m_sub, _, s = cb.shape

    @pandas_udf("array<int>")
    def encode(embs: pd.Series) -> pd.Series:
        steady_zip_imports()
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        sub = _matrix(embs).reshape(len(embs), m_sub, 1, s)

        def sq_diff(i):
            d = sub[..., i] - cb[None, :, :, i]              # (n, m, K)
            return d * d

        dist = _seq_sum(s, sq_diff)
        return _rows(np.argmin(dist, axis=2).astype(np.int32))

    corpus = valid_vectors(corpus, vec_col, int(m_sub * s))
    return corpus.select(id_col, vec_col, encode(F.col(vec_col))
                         .alias("codes"))


MAX_PQ_QUERY_BATCH = 4096


def topk_ann_pq(corpus: DataFrame, queries: DataFrame, dim: int = 64,
                k: int = 10, pool: int = 100, m_sub: int = 4,
                n_codewords: int = 16, id_col: str = "vec_id",
                vec_col: str = "embedding",
                qid_col: str = "qid",
                max_query_batch: int = MAX_PQ_QUERY_BATCH) -> DataFrame:
    """PQ-ADC approximate nearest neighbors: encode the corpus once as
    m_sub-byte PQ codes, score candidates by Asymmetric Distance
    Computation (per query, a (m_sub x n_codewords) table of
    query-subvector . codeword dot products; a vector's approximate
    inner product is m_sub table lookups summed in fixed subspace
    order), take the ADC top-``pool``, exact-cosine re-rank to top-k.

    The scale story the float paths can't tell: the corpus side of the
    scoring pass touches only (id, m_sub bytes) - at a billion vectors
    that is GBs instead of TBs, and the ADC pass is a narrow map over
    codes with the tiny per-query tables broadcast. Compose with the
    IVF inverted file (topk_ann_ivf) for cell-pruned IVF-PQ. The
    DuckDB oracle reproduces codes, ADC scores, pool membership, and
    the re-ranked result bit-for-bit."""
    cb = pq_codebooks(corpus, n_codewords, m_sub, dim, id_col, vec_col)
    codes = pq_encode(corpus, cb, id_col, vec_col)
    return pq_adc_topk(codes, cb, corpus, queries, dim=dim, k=k, pool=pool,
                       m_sub=m_sub, id_col=id_col, vec_col=vec_col,
                       qid_col=qid_col, max_query_batch=max_query_batch)


def topk_ann_ivfpq(corpus: DataFrame, queries: DataFrame, dim: int = 64,
                   k: int = 10, pool: int = 100, n_centroids: int = 16,
                   nprobe: int = 8, m_sub: int = 4, n_codewords: int = 16,
                   refine_steps: int = 0, id_col: str = "vec_id",
                   vec_col: str = "embedding", qid_col: str = "qid",
                   max_query_batch: int = MAX_PQ_QUERY_BATCH) -> DataFrame:
    """IVF-PQ: the composition the two families exist for - the IVF
    inverted file prunes the corpus to each query's ``nprobe`` cells,
    and PQ-ADC scores ONLY those candidates from their m_sub-byte
    codes, then exact-cosine re-ranks the top-``pool``. This is the
    billion-vector serving design: the scoring pass touches
    (corpus/n_centroids)*nprobe rows of m_sub bytes each instead of
    every full vector - both pruning ratios tune independently
    (nprobe/n_centroids for recall-vs-cells, pool for rerank cost).

    Exactness discipline matches the parents: pinned seed centroids and
    codebooks (refine_steps=0 for the oracle entry) and ties on ids, so
    cells, probes, codes, ADC scores, pool membership and the final
    ranking are all reproduced bit-exactly by the SQL oracle."""
    cent = ivf_centroids(corpus, n_centroids, dim,
                         refine_steps=refine_steps,
                         id_col=id_col, vec_col=vec_col)
    cb = pq_codebooks(corpus, n_codewords, m_sub, dim, id_col, vec_col)
    inv = ivf_assignments(corpus, cent, nprobe=1, id_col=id_col,
                          vec_col=vec_col).select(id_col, "centroid_id")
    codes = pq_encode(corpus, cb, id_col, vec_col).select(id_col, "codes")
    return ivfpq_adc_topk(inv, codes, cb, cent, corpus, queries, dim=dim,
                          k=k, pool=pool, nprobe=nprobe, m_sub=m_sub,
                          id_col=id_col, vec_col=vec_col, qid_col=qid_col,
                          max_query_batch=max_query_batch)


def _adc_tables(queries: DataFrame, cb: np.ndarray, dim: int, m_sub: int,
                qid_col: str, max_query_batch: int, caller: str):
    """Collect the query batch and build its ADC tables: (valid queries,
    qids in order, (Q, m_sub, K) tables), or None when there is nothing
    to score (no queries, or a codebook without codewords).

    The tables live on the driver (Q x m_sub x K floats) and are
    closure-broadcast into the scoring UDF - bounded by design for query
    BATCHES, so an unbounded query frame fails loudly here rather than
    OOM the driver. K is the actual codeword count: pq_codebooks seeds
    from the corpus, so a corpus smaller than n_codewords yields fewer
    (sizing the tables to the request broke numpy broadcasting on tiny
    input)."""
    queries = valid_vectors(queries, "qv", dim)
    qrows = queries.limit(max_query_batch + 1).orderBy(qid_col).collect()
    if len(qrows) > max_query_batch:
        raise ValueError(
            f"{caller} query batch exceeds max_query_batch="
            f"{max_query_batch}; chunk the query set (the ADC tables "
            "are driver-resident per batch)")
    if cb.shape[1] == 0 or not qrows:
        return None
    s = cb.shape[2]
    qmat = np.array([r["qv"] for r in qrows], dtype=np.float64)
    qsub = qmat[:, :m_sub * s].reshape(len(qrows), m_sub, 1, s)
    return queries, [r[qid_col] for r in qrows], _seq_dot(qsub, cb[None])


def _adc_empty(corpus: DataFrame, id_col: str, qid_col: str) -> DataFrame:
    return local_frame(corpus.sparkSession, [],
                       f"{qid_col} long, {id_col} long, adc double, "
                       "sim double, rank int")


def _adc_rerank(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
                pool: int, k: int, id_col: str, vec_col: str,
                qid_col: str) -> DataFrame:
    """Keep the ADC top-``pool`` per query, fetch their vectors and
    re-rank them by exact cosine: (qid, id, adc, sim, rank)."""
    pooled = _top_k(scored, "adc", pool, id_col, qid_col).drop("rank")
    cand = (pooled.join(corpus.select(id_col, vec_col), id_col)
            .join(F.broadcast(queries), qid_col))
    return _rerank(cand, k, id_col, vec_col, qid_col, "adc")


def ivfpq_adc_topk(inv: DataFrame, codes: DataFrame, cb: np.ndarray,
                   cent: np.ndarray, corpus: DataFrame,
                   queries: DataFrame, dim: int = 64, k: int = 10,
                   pool: int = 100, nprobe: int = 8, m_sub: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "qid",
                   max_query_batch: int = MAX_PQ_QUERY_BATCH) -> DataFrame:
    """Cell-pruned ADC + exact re-rank over an ALREADY-BUILT inverted
    file (``inv``: id -> cell) and code table: the serve half of
    :func:`topk_ann_ivfpq`, shared with the persisted-index path
    (operators/ann_index.py loads all four artifacts from parquet)."""
    batch = _adc_tables(queries, cb, dim, m_sub, qid_col, max_query_batch,
                        "topk_ann_ivfpq")
    if batch is None:
        return _adc_empty(corpus, id_col, qid_col)
    queries, qids, tables = batch
    probes = _probes(queries,
                     lambda q: ivf_assignments(q, cent, nprobe, id_col,
                                               vec_col),
                     ("centroid_id",), id_col, vec_col, qid_col)

    @pandas_udf("double")
    def adc_pair(codes_col: pd.Series, qidx_col: pd.Series) -> pd.Series:
        steady_zip_imports()
        if len(codes_col) == 0:
            return pd.Series([], dtype="float64")
        cmat = _matrix(codes_col, np.int64)
        qi = qidx_col.to_numpy().astype(np.int64)
        return pd.Series(_seq_sum(m_sub, lambda m: tables[qi, m, cmat[:, m]]))

    qid_arr = F.array(*[F.lit(q) for q in qids])
    cand = (codes.join(inv, id_col)
            .join(F.broadcast(probes),
                  (F.col("centroid_id") == F.col("q_centroid_id")) &
                  (F.col(qid_col) != F.col(id_col)))
            .select(qid_col, id_col, "codes"))
    scored = cand.select(
        qid_col, id_col,
        adc_pair(F.col("codes"),
                 F.array_position(qid_arr, F.col(qid_col)) - 1)
        .alias("adc"))
    return _adc_rerank(scored, corpus, queries, pool, k, id_col, vec_col,
                       qid_col)


def pq_adc_topk(codes: DataFrame, cb: np.ndarray, corpus: DataFrame,
                queries: DataFrame, dim: int = 64, k: int = 10,
                pool: int = 100, m_sub: int = 4, id_col: str = "vec_id",
                vec_col: str = "embedding", qid_col: str = "qid",
                max_query_batch: int = MAX_PQ_QUERY_BATCH) -> DataFrame:
    """ADC scoring + exact re-rank over an ALREADY-ENCODED corpus: the
    serve half of :func:`topk_ann_pq`, shared with the persisted-index
    path (operators/ann_index.py loads ``codes`` and ``cb`` from parquet
    instead of recomputing them). Every code row is scored against the
    whole query batch in one pass."""
    batch = _adc_tables(queries, cb, dim, m_sub, qid_col, max_query_batch,
                        "topk_ann_pq")
    if batch is None:
        return _adc_empty(corpus, id_col, qid_col)
    queries, qids, tables = batch

    @pandas_udf("array<double>")
    def adc(codes_col: pd.Series) -> pd.Series:
        steady_zip_imports()
        if len(codes_col) == 0:
            return pd.Series([], dtype="object")
        cmat = _matrix(codes_col, np.int64)                  # (n, m)
        return _rows(_seq_sum(m_sub, lambda m: tables[:, m, cmat[:, m]].T))

    qid_map = F.array(*[F.lit(q) for q in qids])
    scored = (codes.select(id_col,
                           F.posexplode(adc(F.col("codes")))
                           .alias("qidx", "adc"))
              .select(id_col, F.element_at(qid_map, F.col("qidx") + 1)
                      .alias(qid_col), "adc")
              .filter(F.col(qid_col) != F.col(id_col)))
    return _adc_rerank(scored, corpus, queries, pool, k, id_col, vec_col,
                       qid_col)
