"""session.local_frame: rows held in the driver enter Spark as an Arrow
LocalRelation with exactly the declared schema."""

import datetime as dt

import pytest
from pyspark.sql import types as T

from python_etl_rest_api_spark.session import local_frame


def _plan_node(df) -> str:
    return df._jdf.queryExecution().logical().getClass().getSimpleName()


SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("s", T.StringType(), True),
    T.StructField("x", T.DoubleType(), True),
    T.StructField("d", T.DateType(), True),
    T.StructField("m", T.DecimalType(12, 2), True),
])
ROWS = [(1, "a", 1.5, dt.date(2019, 3, 19), None),
        (2, None, None, None, None),
        (3, "c", -0.25, dt.date(2020, 2, 29), None)]


def test_schema_types_nullability_and_nulls(spark):
    from decimal import Decimal
    rows = ROWS[:2] + [ROWS[2][:4] + (Decimal("12.34"),)]
    df = local_frame(spark, rows, SCHEMA)
    assert _plan_node(df) == "LocalRelation"
    assert df.schema == SCHEMA
    assert [tuple(r) for r in df.orderBy("k").collect()] == rows


def test_empty_rows_and_ddl_schema(spark):
    df = local_frame(spark, [], "n long, token string")
    assert _plan_node(df) == "LocalRelation"
    assert df.schema == T.StructType([T.StructField("n", T.LongType()),
                                      T.StructField("token", T.StringType())])
    assert df.collect() == []
    assert local_frame(spark, iter([(4, "t")]),
                       "n long, token string").collect()[0] == (4, "t")


def test_same_rows_with_arrow_conf_off(spark):
    """The Arrow table path does not depend on
    spark.sql.execution.arrow.pyspark.enabled."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    session = spark.newSession()
    session.conf.set(key, "false")
    df = local_frame(session, ROWS, SCHEMA)
    assert _plan_node(df) == "LocalRelation"
    assert df.schema == SCHEMA
    assert [tuple(r) for r in df.orderBy("k").collect()] == ROWS
    assert spark.conf.get(key) == "true"


def test_null_in_non_nullable_column_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(None, "a", None, None, None)], SCHEMA).collect()


def test_dirty_df_is_a_local_relation(spark):
    from python_etl_rest_api_spark.catalog_etl import DIRTY_ROWS, _dirty_df
    df = _dirty_df(spark)
    assert _plan_node(df) == "LocalRelation"
    assert df.schema["rid"].nullable is False
    assert [tuple(r) for r in df.orderBy("rid").collect()] == [
        row[1:] + (row[0],) for row in DIRTY_ROWS]


@pytest.mark.parametrize("kind", ["pq", "ivfpq"])
def test_empty_adc_result_is_a_local_relation(spark, kind):
    from pyspark.sql import functions as F
    from python_etl_rest_api_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    no_queries = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    out = getattr(similarity, f"topk_ann_{kind}")(emb, no_queries, dim=64)
    assert _plan_node(out) == "LocalRelation"
    assert out.columns == ["qid", "vec_id", "adc", "sim", "rank"]
    assert out.collect() == []


@pytest.mark.parametrize("module,entry", [
    ("catalog_llm", "sim_mmr_rerank"),
    ("catalog_pipe", "text_bpe_merges"),
])
def test_driver_built_entry_is_a_local_relation(spark, module, entry):
    """Entries that assemble their answer on the driver return it as a
    LocalRelation with the declared schema, not a pickle RDD."""
    import importlib
    from conftest import SF_DIR
    fn = getattr(importlib.import_module(
        f"python_etl_rest_api_spark.{module}"), entry)
    out = fn(spark, SF_DIR)
    assert _plan_node(out) == "LocalRelation"
    assert out.count() > 0


@pytest.mark.parametrize("kind", ["", "wav_", "bmp_", "png_", "jpeg_",
                                  "avi_", "gif_"])
def test_synthesized_media_is_a_local_relation(spark, kind):
    """The multimodal synthesizers coalesce a LocalRelation, so scanning
    one starts no Python worker."""
    from python_etl_rest_api_spark.operators import multimodal as mm
    media = getattr(mm, f"synthesize_{kind}media")(spark, n=4)
    plan = media._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "Repartition"
    assert plan.child().getClass().getSimpleName() == "LocalRelation"
    assert media.schema == mm.MEDIA_SCHEMA
    assert media.count() == 4
