"""Crash-freedom sweep over HOSTILE VALUES: schema-valid but
adversarial content - malformed JSON in events.props, NaN/inf in
doubles, control characters / emoji / RTL text / kilotoken words in
documents.text, empty and WRONG-LENGTH embedding vectors, NaN vector
elements. Structure sweeps (empty_sweep, null_sweep) prove shape
robustness; this one proves the engine survives garbage CONTENT,
which is what 100 TB of real scraped data contains.

Usage: python tools/fuzz_sweep.py [src_sf_dir]
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

HOSTILE_TEXT = [
    "",                                         # empty
    " ",                                        # whitespace only
    "\x00\x01\x02 control \x1b[31m",            # control chars + ANSI
    "emoji \U0001f600\U0001f4a9 mix",           # astral plane
    "‮ RTL override ‬ text",          # bidi controls
    "x" * 4000,                                 # one kilotoken word
    "a " * 500,                                 # 500 repeated tokens
    '{"unterminated": ',                        # JSON-looking text
]
HOSTILE_JSON = [
    "", "{", "not json at all", '{"a":}', "[1,2,", '{"a":"\\u0000"}',
    '{"deep":' * 40 + "1" + "}" * 40,
]


def build_fuzz_fixture(spark, src: str = DEFAULT_SRC) -> str:
    from pyspark.sql import functions as F
    dst = tempfile.mkdtemp(prefix="sf_fuzz_")
    stage = tempfile.mkdtemp(prefix="sf_fuzz_stage_")
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if t == "documents":
            pick = F.pmod(F.col("doc_id"), F.lit(10))
            arr = F.array(*[F.lit(s) for s in HOSTILE_TEXT])
            df = df.withColumn(
                "text",
                F.when(pick < 2,
                       F.element_at(arr, (F.pmod(F.col("doc_id"),
                                                 F.lit(len(HOSTILE_TEXT)))
                                          + 1).cast("int")))
                .otherwise(F.col("text")))
        elif t == "events":
            pick = F.pmod(F.col("event_id"), F.lit(10))
            arr = F.array(*[F.lit(s) for s in HOSTILE_JSON])
            df = (df.withColumn(
                "props",
                F.when(pick < 2,
                       F.element_at(arr, (F.pmod(F.col("event_id"),
                                                 F.lit(len(HOSTILE_JSON)))
                                          + 1).cast("int")))
                .otherwise(F.col("props")))
                .withColumn(
                "value",
                F.when(pick == 3, F.lit(float("nan")))
                .when(pick == 4, F.lit(float("inf")))
                .when(pick == 5, F.lit(float("-inf")))
                .when(pick == 6, F.lit(1e308))
                .otherwise(F.col("value"))))
        elif t == "embeddings":
            pick = F.pmod(F.col("vec_id"), F.lit(10))
            df = df.withColumn(
                "embedding",
                F.when(pick == 1, F.array().cast("array<float>"))     # empty
                .when(pick == 2, F.slice("embedding", 1, 7))          # short
                .when(pick == 3, F.concat(F.col("embedding"),
                                          F.col("embedding")))        # long
                .when(pick == 4,
                      F.concat(F.slice("embedding", 1, 63),
                               F.array(F.lit(float("nan"))
                                       .cast("float"))))              # NaN el
                .otherwise(F.col("embedding")))
        df.coalesce(1).write.mode("overwrite").parquet(f"{stage}/{t}")
        shutil.copy(glob.glob(f"{stage}/{t}/*.parquet")[0],
                    f"{dst}/{t}.parquet")
    shutil.rmtree(stage, ignore_errors=True)
    return dst


def main() -> None:
    from python_etl_rest_api_spark.registry import QUERIES
    from python_etl_rest_api_spark.session import get_spark

    spark = get_spark("fuzz-sweep")
    src = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SRC
    dst = build_fuzz_fixture(spark, src)
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
