"""Persisted-ANN-index catalog entries: ONE shared index build per
corpus serves all four entries, each checked against the SAME DuckDB
oracle as its recompute twin (sim_topk_ann_{srp,ivf,pq,ivfpq}) - the
strongest possible proof that index-path == recompute-path, since the
driver value-hashes both against one SQL definition. Build-vs-serve
amortization is measured in bench.py's ann-index section.

The build is made once per embeddings input (session.scratch_dir) and
reused for the process lifetime: the four serve entries share one
``build_ann_index(..., kinds=ALL_KINDS)`` call, so a verification sweep
pays the corpus-sized build cost ONCE (~6 s at sf0.1) and each entry
verifies at serve cost (~1 s) - exactly how a production deployment
amortizes an index, and the difference between these entries costing
4 builds or 1 in a time-budgeted driver window. Sharing is safe because
every family's geometry is an independent deterministic function of the
meta parameters (seeded hyperplanes / seed centroids with
refine_steps=0 / seeded codebooks): building srp+ivf+pq together is
bit-identical to three solo builds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import catalog_pipe  # noqa: F401 - registers the PQ oracle first
from .catalog import ORACLES, _t, query
from .catalog_ext import _IVF_ORACLE_SQL, _SRP_ORACLE_SQL
from .operators import ann_index
from .session import scratch_dir


def _emb_queries_index(spark, sf_dir):
    """The corpus, its first 3 vectors as queries, and the full-family
    index all four serve entries read, built once per embeddings input.
    Parameters match the recompute entries so the shared oracles stay
    exact."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    path = scratch_dir(
        "annidx_shared_",
        lambda d: ann_index.build_ann_index(
            emb, d, dim=64, kinds=ann_index.ALL_KINDS, bits=6,
            n_centroids=16, refine_steps=0, m_sub=4, n_codewords=16),
        [f"{sf_dir}/embeddings.parquet"])
    return emb, queries, path


@query("sim_ann_index_srp_serve", _SRP_ORACLE_SQL)
def sim_ann_index_srp_serve(spark, sf_dir):
    """SRP top-k served from the PERSISTED bucket file (build once to
    scratch, then the serve path scans only (table, bucket, id) and
    joins candidates back to the corpus by id). Same parameters and
    same oracle as sim_topk_ann_srp - a value-hash match proves the
    stored index reproduces the recompute path bit-for-bit."""
    emb, queries, path = _emb_queries_index(spark, sf_dir)
    return ann_index.topk_ann_srp_indexed(emb, queries, path, k=10) \
        .select("qid", "vec_id", "sim", "rank")


@query("sim_ann_index_ivf_serve", _IVF_ORACLE_SQL)
def sim_ann_index_ivf_serve(spark, sf_dir):
    """IVF top-k served from the PERSISTED codebook + inverted file
    (refine_steps=0 seed codebook, like the recompute entry, so the SQL
    oracle reproduces assignments exactly). nprobe stays a query-time
    knob; the stored geometry comes from the index meta."""
    emb, queries, path = _emb_queries_index(spark, sf_dir)
    return ann_index.topk_ann_ivf_indexed(emb, queries, path, k=10,
                                          nprobe=4) \
        .select("qid", "vec_id", "sim", "rank")


@query("sim_ann_index_ivfpq_serve", ORACLES["sim_topk_ann_ivfpq"])
def sim_ann_index_ivfpq_serve(spark, sf_dir):
    """The COMPOSED index served from storage: the shared build persists
    the inverted file AND the PQ codes; the serve path probes cells
    from the stored centroids, prunes to probed cells via the stored
    assignments, ADC-scores the stored m_sub-byte codes, and re-ranks
    the pool exactly - the full billion-vector read pattern with zero
    recomputation of corpus-sized artifacts. Oracle shared verbatim
    with sim_topk_ann_ivfpq."""
    emb, queries, path = _emb_queries_index(spark, sf_dir)
    return ann_index.topk_ann_ivfpq_indexed(emb, queries, path, k=10,
                                            pool=30, nprobe=4)


@query("sim_ann_index_pq_serve", ORACLES["sim_topk_ann_pq"])
def sim_ann_index_pq_serve(spark, sf_dir):
    """PQ-ADC top-k served from the PERSISTED codes: the codebooks load
    driver-side (tiny), the m_sub-byte codes parquet is the only
    corpus-sized scan in the ADC pass, and the pooled candidates join
    back to the corpus for the exact re-rank. Oracle shared verbatim
    with sim_topk_ann_pq."""
    emb, queries, path = _emb_queries_index(spark, sf_dir)
    return ann_index.topk_ann_pq_indexed(emb, queries, path, k=10,
                                         pool=30)
