"""Crash-freedom sweep over a NULL-RIDDLED dataset: every nullable
column in every table is nulled on a deterministic ~30% of rows, and
every catalog entry must still return rather than throw - the
production shape where upstream feeds deliver partial records. Pairs
with tools/empty_sweep.py (0-row robustness); together they are the
adversarial-input battery.

Usage: python tools/null_sweep.py [src_sf_dir]
Exit 1 on any crash.
"""

from __future__ import annotations

import glob
import shutil
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DEFAULT_SRC = "/root/testdata/sf0.001"

# Primary keys / join identity columns stay intact: nulling them tests
# referential chaos, not partial records (and several entries define
# identity semantics over them - a null doc_id row is not a document).
KEEP = {"r_regionkey", "n_nationkey", "c_custkey", "s_suppkey",
        "p_partkey", "o_orderkey", "l_orderkey", "l_linenumber",
        "event_id", "doc_id", "vec_id"}


def build_null_fixture(spark, src: str = DEFAULT_SRC) -> str:
    from pyspark.sql import functions as F
    dst = tempfile.mkdtemp(prefix="sf_nulls_")
    stage = tempfile.mkdtemp(prefix="sf_nulls_stage_")
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        key = [f.name for f in df.schema.fields if f.name in KEEP]
        anchor = F.col(key[0]) if key else F.monotonically_increasing_id()
        mask = F.pmod(F.xxhash64(anchor.cast("string"), F.lit(t)),
                      F.lit(10)) < 3
        out = df.select(*[
            (F.when(~mask, F.col(f.name)).otherwise(F.lit(None))
             .alias(f.name) if f.name not in KEEP else F.col(f.name))
            for f in df.schema.fields])
        out.coalesce(1).write.mode("overwrite").parquet(f"{stage}/{t}")
        shutil.copy(glob.glob(f"{stage}/{t}/*.parquet")[0],
                    f"{dst}/{t}.parquet")
    shutil.rmtree(stage, ignore_errors=True)
    return dst


def main() -> None:
    from python_etl_rest_api_spark.registry import QUERIES
    from python_etl_rest_api_spark.session import get_spark

    spark = get_spark("null-sweep")
    src = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SRC
    dst = build_null_fixture(spark, src)
    bad = []
    for name, fn in QUERIES.items():
        try:
            fn(spark, dst).limit(5).collect()
            print(f"ok    {name}")
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            bad.append(name)
            print(f"CRASH {name}: {type(e).__name__}: {str(e)[:200]}")
    print(f"\n{len(bad)} crashers of {len(QUERIES)}"
          + (f": {bad}" if bad else ""))
    shutil.rmtree(dst, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
