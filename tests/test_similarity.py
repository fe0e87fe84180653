"""Similarity-search semantics: exact cosine values, top-k ranking, ANN
recall against the brute-force baseline."""

import math

import pytest
from pyspark.sql import functions as F

from python_etl_rest_api_spark.operators import similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),     # identical to 0
        (2, [0.9, 0.1, 0.0, 0.0]),     # close to 0
        (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal to 0
        (4, [-1.0, 0.0, 0.0, 0.0]),    # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_exact_values(spark, vectors):
    a = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    pairs = (vectors.crossJoin(F.broadcast(a))
             .select("vec_id", similarity.cosine(F.col("qv"), F.col("embedding"))
                     .alias("sim")).collect())
    sims = {r["vec_id"]: r["sim"] for r in pairs}
    assert sims[1] == pytest.approx(1.0)
    assert sims[3] == pytest.approx(0.0)
    assert sims[4] == pytest.approx(-1.0)
    assert sims[2] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01))


def test_topk_ranking_and_ties(vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    out = similarity.topk_bruteforce(vectors, q, k=3).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["vec_id"] for r in ranked] == [1, 2, 3]   # self excluded


def test_near_dup_pairs_threshold(vectors):
    pairs = similarity.cosine_near_dup_pairs(vectors, threshold=0.95).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found
    assert (0, 3) not in found


def test_ann_recall_against_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    exact = similarity.topk_bruteforce(emb, q, k=10).collect()
    approx = similarity.topk_ann_srp(emb, q, dim=64, k=10, bits=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    # SRP with 4 bits on random data: expect meaningful (not perfect) recall
    recalls = [len(exact_sets[q_] & approx_sets.get(q_, set())) / 10
               for q_ in exact_sets]
    assert sum(recalls) / len(recalls) > 0.2
    # every ANN hit must carry the exact cosine (re-rank is exact)
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert r["sim"] == pytest.approx(exact_sims[key])


def test_ivf_recall_against_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    exact = similarity.topk_bruteforce(emb, q, k=10).collect()
    approx = similarity.topk_ann_ivf(emb, q, dim=64, k=10,
                                     n_centroids=8, nprobe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    # probing half the cells on random data: expect solid recall
    recalls = [len(exact_sets[q_] & approx_sets.get(q_, set())) / 10
               for q_ in exact_sets]
    assert sum(recalls) / len(recalls) > 0.3
    # re-rank is exact cosine
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert r["sim"] == pytest.approx(exact_sims[key])


def test_ivf_assignments_match_numpy(spark):
    import numpy as np
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .filter(F.col("vec_id") < 50)
    rows = emb.orderBy("vec_id").collect()
    cent = np.array([r.embedding for r in rows[:4]], dtype=np.float64)
    got = {r.vec_id: r.centroid_id
           for r in similarity.ivf_assignments(emb, cent, nprobe=1).collect()}
    cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        v = v / np.linalg.norm(v)
        want = int(np.argmax(v @ cn.T))
        assert got[r.vec_id] == want, r.vec_id


def test_label_centroid_matches_numpy(spark):
    import numpy as np
    from python_etl_rest_api_spark.catalog_ext import embed_label_centroid
    out = embed_label_centroid(spark, "/root/testdata/sf0.001").collect()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    by_label = {}
    for r in emb.collect():
        by_label.setdefault(r.label, []).append(r.embedding)
    for r in out:
        arr = np.array(by_label[r.label], dtype=np.float64)
        assert r.n_vecs == arr.shape[0]
        assert r.mean_val == pytest.approx(
            float(np.mean(arr[:, r.pos])), abs=1e-9)


def test_pq_recall_against_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    exact = similarity.topk_bruteforce(emb, q, k=10).collect()
    approx = similarity.topk_ann_pq(emb, q, dim=64, k=10, pool=30).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    # 4x16 PQ on random 64-dim data with a 3x pool: decent recall
    recalls = [len(exact_sets[q_] & approx_sets.get(q_, set())) / 10
               for q_ in exact_sets]
    assert sum(recalls) / len(recalls) > 0.2
    # re-rank is exact cosine
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert r["sim"] == pytest.approx(exact_sims[key])


def test_pq_small_corpus_fewer_codewords_than_requested(spark):
    """A corpus smaller than n_codewords must still answer (the r4
    advice found a numpy broadcast crash when the ADC tables were sized
    to the REQUEST instead of the actual codebook)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .filter(F.col("vec_id") < 6)      # 6 vectors < 16 codewords
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    out = similarity.topk_ann_pq(emb, q, dim=64, k=3, pool=5,
                                 n_codewords=16).collect()
    assert out, "small corpus must yield results, not crash"
    assert {r["qid"] for r in out} == {0, 1}


def test_pq_oversized_query_batch_rejected(spark):
    """The ADC tables are driver-resident per batch; an unbounded query
    frame must fail loudly instead of accumulating on the driver."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qv"))
    with pytest.raises(ValueError, match="max_query_batch"):
        similarity.topk_ann_pq(emb, q, dim=64, k=3, max_query_batch=10)


def test_ivfpq_recall_and_adc_consistency(spark):
    """The composed IVF-PQ path: decent recall vs bruteforce, its
    candidate set restricted to probed cells must be a SUBSET of full
    PQ's scoring universe, and where both paths score the same
    (qid, vec) pair the ADC values must be bit-identical (same
    codebooks, same pinned-order sum)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    exact = similarity.topk_bruteforce(emb, q, k=10).collect()
    ivfpq = similarity.topk_ann_ivfpq(emb, q, dim=64, k=10, pool=30,
                                      nprobe=4).collect()
    pq = similarity.topk_ann_pq(emb, q, dim=64, k=10, pool=30).collect()
    exact_sets, got_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    for r in ivfpq:
        got_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[k_] & got_sets.get(k_, set())) / 10
               for k_ in exact_sets]
    assert sum(recalls) / len(recalls) > 0.1   # pruned harder than PQ
    pq_adc = {(r["qid"], r["vec_id"]): r["adc"] for r in pq}
    for r in ivfpq:
        key = (r["qid"], r["vec_id"])
        if key in pq_adc:
            assert r["adc"] == pq_adc[key]


def test_pq_codes_match_numpy(spark):
    """PQ encoding = per-subspace squared-L2 argmin against the seed
    codebooks, first-occurrence tie-break — verified against a direct
    numpy computation over the same data."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.pq_codebooks(emb, n_codewords=16, m_sub=4, dim=64)
    assert cb.shape == (4, 16, 16)
    got = {r["vec_id"]: r["codes"]
           for r in similarity.pq_encode(emb, cb).collect()}
    rows = emb.orderBy("vec_id").collect()
    for r in rows[:20]:
        v = np.asarray(r["embedding"], dtype=np.float64)
        want = []
        for m in range(4):
            sub = v[m * 16:(m + 1) * 16]
            d = ((sub[None, :] - cb[m]) ** 2).sum(axis=1)
            want.append(int(np.argmin(d)))
        assert got[r["vec_id"]] == want


ANN_EMPTY_COLUMNS = {
    "srp": ["qid", "vec_id", "sim", "rank"],
    "ivf": ["qid", "vec_id", "sim", "rank"],
    "pq": ["qid", "vec_id", "adc", "sim", "rank"],
    "ivfpq": ["qid", "vec_id", "adc", "sim", "rank"],
}


@pytest.mark.parametrize("kind", sorted(ANN_EMPTY_COLUMNS))
def test_ann_empty_corpus_answers_empty(spark, kind):
    """An empty corpus with a non-empty query set answers no rows in the
    family's result columns (IVF used to fail in the probe UDF: its
    codebook came back as shape (0,) instead of (0, dim))."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    # empty only at run time, so no plan rule prunes the probe side
    empty = emb.filter(F.col("vec_id") < 0)
    out = getattr(similarity, f"topk_ann_{kind}")(empty, q, dim=64, k=5)
    assert out.columns == ANN_EMPTY_COLUMNS[kind]
    assert out.collect() == []


# -- fold order --------------------------------------------------------
#
# Each vector below puts one decision exactly on its boundary under the
# left-to-right float64 fold: a big term, small terms that the fold
# absorbs one at a time (each under half an ulp of the big term), then
# the big term's negation. Any other summation order (pairwise, SIMD
# lanes, fused multiply-add) lets the small terms or the product's
# rounding error survive and lands on the other side, so a kernel moved
# to matmul or np.dot fails here.

FOLD_DIM = 16


def _fold(xs, ys):
    acc = 0.0
    for x, y in zip(xs, ys):
        acc = acc + x * y
    return acc


def _srp_boundary_vector(p):
    """v with fold(v, p) == 0.0 exactly, where the exact sum is < 0 and
    the last product is inexact (so an FMA fold also goes negative)."""
    from fractions import Fraction
    for k in range(1, 1024):
        big = math.copysign(2.0 ** 80 * (1 + k / 1024), p[0])
        head = p[0] * big
        small = 0.4 * math.ulp(head)
        last = -head / p[-1]
        for step in range(-4, 5):
            cand = last
            for _ in range(abs(step)):
                cand = math.nextafter(cand, math.copysign(math.inf, step))
            if (p[-1] * cand == -head and
                    Fraction(p[-1]) * Fraction(cand) < -Fraction(head)):
                return ([big] + [-math.copysign(small / abs(x), x)
                                 for x in p[1:-1]] + [cand])
    raise AssertionError("no boundary vector found")


def _vec_frame(spark, vecs):
    return spark.createDataFrame(list(enumerate(vecs)),
                                 "vec_id long, embedding array<double>")


def test_srp_keys_follow_the_sequential_fold(spark):
    bits = 4
    planes = [similarity._hyperplane(FOLD_DIM, j) for j in range(bits)]
    v = _srp_boundary_vector(planes[0])
    assert _fold(v, planes[0]) == 0.0
    assert math.fsum(a * b for a, b in zip(v, planes[0])) < -1e-15
    want = sum(1 << b for b in range(bits) if _fold(v, planes[b]) >= 0)
    assert want & 1                 # the boundary bit is set by the fold
    got = similarity.srp_buckets(_vec_frame(spark, [v]), FOLD_DIM,
                                 bits=bits).collect()
    assert [r.bucket_key for r in got] == [want]


def test_ivf_probe_follows_the_sequential_fold(spark):
    head = 2.0 ** 60 * 1.375
    small = -0.4 * math.ulp(head)
    v = [head] + [small] * (FOLD_DIM - 3) + [-head, 0.0]
    c_fold = [1.0] * (FOLD_DIM - 1) + [0.0]     # dot == 0.0 by the fold
    c_zero = [0.0] * (FOLD_DIM - 1) + [1.0]     # dot == 0.0 in any order
    assert _fold(v, c_fold) == 0.0 == _fold(v, c_zero)
    assert math.fsum(a * b for a, b in zip(v, c_fold)) < -1e-15
    cents = [c_fold, c_zero]
    sims = [_fold(v, c) / (math.sqrt(_fold(v, v)) * math.sqrt(_fold(c, c)))
            for c in cents]
    want = sorted(range(len(cents)), key=lambda i: (-sims[i], i))[0]
    assert want == 0                # the tie goes to the lower index
    got = similarity.ivf_assignments(_vec_frame(spark, [v]), cents,
                                     nprobe=1).collect()
    assert [r.centroid_id for r in got] == [want]


def test_pq_codes_follow_the_sequential_fold(spark):
    import numpy as np
    head = 2.0 ** 30 * 1.375
    t = math.sqrt(0.4 * math.ulp(head * head))
    x = [head] + [0.0] * (FOLD_DIM - 1)
    c_fold = [0.0] + [t] * (FOLD_DIM - 1)   # head^2 + absorbed t^2 terms
    c_zero = [0.0] * FOLD_DIM               # head^2 exactly

    def dist(c):
        d = [a - b for a, b in zip(x, c)]
        return _fold(d, d)

    assert dist(c_fold) == dist(c_zero)
    assert math.fsum((a - b) ** 2 for a, b in zip(x, c_fold)) > dist(c_zero)
    cents = [c_fold, c_zero]
    want = min(range(len(cents)), key=lambda i: (dist(cents[i]), i))
    assert want == 0
    cb = np.array(cents)[None]          # (m_sub=1, K=2, s=FOLD_DIM)
    got = similarity.pq_encode(_vec_frame(spark, [x]), cb).collect()
    assert [r.codes for r in got] == [[want]]


def test_mmr_ranks_the_corpus_once(spark):
    """mmr_rerank runs the corpus-wide brute force once: beyond one
    topk_bruteforce collect it only scans the pool by id and collects
    the pool's pairwise sims (2 jobs). Ranking the corpus again under
    the pool's semi-join took 11 jobs against top-k's 4."""
    from conftest import SF_DIR
    from test_first100 import _jobs
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    ranked, topk_jobs = _jobs(
        spark, lambda: similarity.topk_bruteforce(emb, q, k=12).collect())
    picked, mmr_jobs = _jobs(
        spark, lambda: similarity.mmr_rerank(emb, q, pool=12, k=5))
    assert mmr_jobs <= topk_jobs + 2, (mmr_jobs, topk_jobs)
    pool = {r["vec_id"]: r["sim"] for r in ranked}
    assert len(picked) == 5
    assert all(pool[d] == rel for _, d, rel, _ in picked)
