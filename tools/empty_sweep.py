"""Crash-freedom sweep over an EMPTY dataset: every catalog entry must
either return (usually zero rows) or be on the documented whitelist -
a query engine that throws reshape/NoneType errors when a partition,
filter, or tenant happens to be empty is not production-grade.

Builds a 0-row copy of every testdata table (schema preserved) and runs
all registry entries against it. Exit 1 on any unexpected crash.

Usage: python tools/empty_sweep.py
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SRC = "/root/testdata/sf0.01"


def build_empty_fixture(spark) -> str:
    dst = tempfile.mkdtemp(prefix="sf_empty_")
    stage = tempfile.mkdtemp(prefix="sf_empty_stage_")
    for t in TABLES:
        (spark.read.parquet(f"{SRC}/{t}.parquet").limit(0)
         .coalesce(1).write.mode("overwrite").parquet(f"{stage}/{t}"))
        f = glob.glob(f"{stage}/{t}/*.parquet")[0]
        shutil.copy(f, f"{dst}/{t}.parquet")
    shutil.rmtree(stage, ignore_errors=True)
    return dst


def main() -> None:
    from python_etl_rest_api_spark.registry import QUERIES
    from python_etl_rest_api_spark.session import get_spark

    spark = get_spark("empty-sweep")
    dst = build_empty_fixture(spark)
    bad = []
    for name, fn in QUERIES.items():
        try:
            fn(spark, dst).limit(5).collect()
            print(f"ok    {name}")
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            bad.append(name)
            print(f"CRASH {name}: {type(e).__name__}: {str(e)[:140]}")
    print(f"\n{len(bad)} crashers of {len(QUERIES)}"
          + (f": {bad}" if bad else ""))
    shutil.rmtree(dst, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
