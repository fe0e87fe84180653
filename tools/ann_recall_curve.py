"""Recall/latency curve for the PERSISTED ANN index family.

The oracle entries prove the serve paths are value-identical to their
recompute twins; this tool publishes the QUALITY number parity can't
show: recall@k versus the exact brute-force top-k, as a function of
each family's query-time knob, with wall latency per point —
the honest "what do I give up for the speedup" curve an ANN surface
owes its users (FAISS-style IVF/PQ sweep methodology; knobs:
SRP -> tables probed, IVF/IVFPQ -> nprobe).

One index is built per run (srp tables=8, ivf n_centroids=64 with 2
Lloyd refinements, pq m_sub=4 x 16 codewords — a quality-representative
build, NOT the seed-codebook build the exactness oracles pin), then
every curve point serves from the same stored artifacts. SRP's sweep
uses the first-N-tables subset, which is exactly an N-table index
because plane j = table*bits + bit is table-local.

Usage: python tools/ann_recall_curve.py [sf_dir] [out.json]
Defaults: /tmp/sf1x (the 10x corpus, 20k vectors) ANN_CURVE_r09.json
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from python_etl_rest_api_spark.operators import (  # noqa: E402
    ann_index,
    similarity,
)
from python_etl_rest_api_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1x"
OUT = sys.argv[2] if len(sys.argv) > 2 else "ANN_CURVE_r09.json"
K = 10
N_QUERIES = 32


def _recall(result_rows, truth: dict[int, set[int]]) -> float:
    got: dict[int, set[int]] = {}
    for r in result_rows:
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    per_q = [len(got.get(q, set()) & ids) / len(ids)
             for q, ids in truth.items()]
    return sum(per_q) / len(per_q)


def _timed(fn):
    """(rows, best-of-2 wall seconds) for a serve callable."""
    best = float("inf")
    rows = None
    for _ in range(2):
        t0 = time.time()
        rows = fn().collect()
        best = min(best, time.time() - t0)
    return rows, round(best, 3)


def main() -> None:
    spark = get_spark("ann-recall-curve")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    step = max(1, n // N_QUERIES)
    queries = (emb.filter(F.col("vec_id") % step == 0)
               .orderBy("vec_id").limit(N_QUERIES)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv"))
               .cache())
    nq = queries.count()

    # Exact baseline: ground truth AND the latency an exact scan costs.
    t0 = time.time()
    truth_rows = similarity.topk_bruteforce(emb, queries, k=K).collect()
    brute_sec = round(time.time() - t0, 3)
    truth: dict[int, set[int]] = {}
    for r in truth_rows:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])

    path = tempfile.mkdtemp(prefix="ann_curve_idx_")
    try:
        t0 = time.time()
        ann_index.build_ann_index(
            emb, path, dim=64, kinds=ann_index.ALL_KINDS,
            bits=6, tables=8, n_centroids=64, refine_steps=2,
            m_sub=4, n_codewords=16)
        build_sec = round(time.time() - t0, 3)

        out = {"sf_dir": SF_DIR, "corpus_rows": n, "n_queries": nq,
               "k": K, "index_build_sec": build_sec,
               "bruteforce_sec": brute_sec,
               "index_params": {"bits": 6, "tables": 8,
                                "n_centroids": 64, "refine_steps": 2,
                                "m_sub": 4, "n_codewords": 16},
               "srp": [], "ivf": [], "ivfpq": []}

        for tables in (1, 2, 4, 8):
            rows, sec = _timed(lambda: ann_index.topk_ann_srp_indexed(
                emb, queries, path, k=K, tables=tables))
            out["srp"].append({"tables": tables, "recall_at_10":
                               round(_recall(rows, truth), 4),
                               "sec": sec})
        for nprobe in (1, 2, 4, 8, 16):
            rows, sec = _timed(lambda: ann_index.topk_ann_ivf_indexed(
                emb, queries, path, k=K, nprobe=nprobe))
            out["ivf"].append({"nprobe": nprobe, "recall_at_10":
                               round(_recall(rows, truth), 4),
                               "sec": sec})
        for nprobe in (1, 2, 4, 8, 16):
            rows, sec = _timed(lambda: ann_index.topk_ann_ivfpq_indexed(
                emb, queries, path, k=K, pool=50, nprobe=nprobe))
            out["ivfpq"].append({"nprobe": nprobe, "pool": 50,
                                 "recall_at_10":
                                 round(_recall(rows, truth), 4),
                                 "sec": sec})
        # PQ distortion makes the ADC ranking noisy, so the re-rank
        # pool — not nprobe — can bind recall (the sf0.1 smoke showed a
        # plateau at pool=50). Publish the pool knob too.
        out["ivfpq_pool"] = []
        for pool in (50, 100, 200, 400):
            rows, sec = _timed(lambda: ann_index.topk_ann_ivfpq_indexed(
                emb, queries, path, k=K, pool=pool, nprobe=8))
            out["ivfpq_pool"].append({"nprobe": 8, "pool": pool,
                                      "recall_at_10":
                                      round(_recall(rows, truth), 4),
                                      "sec": sec})
    finally:
        shutil.rmtree(path, ignore_errors=True)

    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
