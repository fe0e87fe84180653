"""Unit tests for tools/plan_audit.py: the global antipattern scanner
must flag true products and pass the sanctioned bounded-broadcast
patterns (scalar subquery, top-k broadcast, salt replication)."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.plan_audit import audit_one  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_scalar_broadcast_is_not_a_product(spark):
    from python_etl_rest_api_spark import registry
    assert audit_one("scalar_share_of_total",
                     registry.QUERIES["scalar_share_of_total"](spark, SF)) \
        == {}


def test_salt_replication_is_not_a_product(spark):
    from python_etl_rest_api_spark import registry
    assert audit_one("skew_salted_join",
                     registry.QUERIES["skew_salted_join"](spark, SF)) == {}


def test_true_cartesian_is_flagged(spark):
    a = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey")
    b = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey")
    cart = a.crossJoin(b)        # corpus x corpus - the real antipattern
    assert audit_one("not_whitelisted", cart) == {"nested_loop": True}


def test_single_partition_window_is_flagged(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{SF}/orders.parquet")
    w = Window.orderBy("o_orderkey")          # global, unpartitioned
    df = o.select("o_orderkey", F.row_number().over(w).alias("rn"))
    assert audit_one("not_whitelisted", df) \
        == {"single_partition_window": True}


def test_row_udf_is_flagged(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    f = F.udf(lambda x: x + 1, T.LongType())      # row-at-a-time UDF
    o = spark.read.parquet(f"{SF}/orders.parquet")
    assert "python_row_udf" in audit_one(
        "not_whitelisted", o.select(f(F.col("o_orderkey"))))
