"""Synthesize a K-times scale-up of a driver testdata directory.

The sandbox ships sf0.001/0.01/0.1 only, but the 100 TB posture needs at
least one empirical point beyond sf0.1 (r6 verdict directive #2: "one
10x empirical point would catch LSH bucket skew, BPE merge-round growth
and funnel checkpoint bloat if they exist"). This tool builds an
sf1-equivalent corpus from sf0.1 by unioning K key-shifted replicas —
a harness artifact for SCALING measurements only, never a correctness
input (oracles always run on the driver-generated parquet).

Scaling model (replica i shifts every key by i*OFFSET, preserving FK
integrity and per-key density while growing key cardinality K-fold,
the way TPC-H scale factors do):
- orders/lineitem/customer/part/supplier: all *key columns shifted;
  c_name / s_name get a replica suffix so name-grained aggregates
  (h1 flagship, q21) keep scaling group cardinality;
- nation/region: fixed dims, copied as-is (TPC-H semantics);
- events: event_id/user_id shifted — user cardinality scales;
- documents: doc_id shifted; replicas i>0 get a replica-tag PREFIX on
  the text, so exact dedup still collapses nothing across replicas
  while near-dup paths see realistic ~0.99-similar clusters (the LSH
  bucket-skew stressor the scaling run exists to expose); n_chars
  recomputed from the new text. Near-dup CLUSTER SIZE is bounded at
  CLUSTER_BOUND (10): replicas are grouped into cohorts of 10, and each
  cohort beyond the first passes the text through a cohort-specific
  letter-substitution (translate on the 10 most frequent letters),
  which destroys shingle overlap ACROSS cohorts while keeping replicas
  WITHIN a cohort ~0.99-similar. Real corpora's dup-cluster size does
  not grow with corpus size; without the bound a 100x run would make
  every document part of a 100-clone cluster and measure a corpus
  pathology instead of engine scaling;
- embeddings: vec_id shifted; replicas i>0 perturbed elementwise by a
  deterministic +/-0.5e-3 hash ramp so ANN distributions don't become
  K-fold degenerate point masses.

Usage: python tools/make_scaled_sf.py [src_dir] [dest_dir] [K]
Defaults: /root/testdata/sf0.1 /tmp/sf1x 10
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OFFSET = 10_000_000
CLUSTER_BOUND = 10        # max near-dup cluster size in documents
_FREQ = "etaoinshrd"      # cohort substitution rotates these letters


def scale_table(spark, src, name, i):
    from pyspark.sql import functions as F
    df = spark.read.parquet(f"{src}/{name}.parquet")
    off = i * OFFSET
    if name in ("nation", "region"):
        return df if i == 0 else None
    shifts = {
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }[name]
    for c in shifts:
        df = df.withColumn(c, (F.col(c) + F.lit(off)).cast("long"))
    if i > 0:
        tag = f"_r{i}"
        if name == "customer":
            df = df.withColumn("c_name", F.concat("c_name", F.lit(tag)))
        elif name == "supplier":
            df = df.withColumn("s_name", F.concat("s_name", F.lit(tag)))
        elif name == "documents":
            cohort = i // CLUSTER_BOUND
            rot = cohort % len(_FREQ)
            base = F.col("text")
            if rot:
                # cohort-specific substitution: rewrites the most
                # frequent letters, so shingles no longer overlap with
                # other cohorts (cluster size stays <= CLUSTER_BOUND)
                base = F.translate(
                    base, _FREQ, _FREQ[rot:] + _FREQ[:rot])
            df = (df.withColumn(
                      "text",
                      F.when(F.col("text").isNotNull(),
                             F.concat(F.lit(f"r{i} "), base))
                      .otherwise(F.col("text")))
                  .withColumn("n_chars", F.length("text").cast("long")))
        elif name == "embeddings":
            df = df.withColumn(
                "embedding",
                F.expr("transform(embedding, (x, j) -> x + "
                       f"CAST(((vec_id * 31 + j) % 997 - 498) AS FLOAT)"
                       " * CAST(1e-6 AS FLOAT))"))
    return df


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dest = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1x"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from python_etl_rest_api_spark.session import get_spark
    spark = get_spark("make-scaled-sf")
    tables = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]
    for t in tables:
        parts = [d for d in (scale_table(spark, src, t, i)
                             for i in range(k)) if d is not None]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        n_files = 8 if t in ("lineitem", "orders", "events") else 2
        (out.repartition(n_files)
            .write.mode("overwrite").parquet(f"{dest}/{t}.parquet"))
        print(f"{t}: {k if t not in ('nation', 'region') else 1} "
              f"replicas written")
    print(f"done -> {dest}")


if __name__ == "__main__":
    main()
