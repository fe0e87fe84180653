"""Loader for the driver's synthetic testdata tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {name: spark.read.parquet(table_path(sf_dir, name)) for name in names}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view so spark.sql() can address them."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def with_event_ts(df: DataFrame) -> DataFrame:
    """Give an events frame (batch or stream) a TIMESTAMP ``ts`` whatever
    the parquet file encodes. Dispatch on the LOADED dtype:
    TIMESTAMP(MICROS) with UTC adjustment reads as TIMESTAMP and passes
    through; without it, it reads as TIMESTAMP_NTZ and is cast (the
    session time zone is UTC by RUNTIME_CONF, so the instant is
    unchanged; unix_micros(), window() and watermarks require
    TIMESTAMP); TIMESTAMP(NANOS) loads as long (RUNTIME_CONF's
    nanosAsLong) and converts with exact integer division -- long->double
    would lose sub-us precision at 2024 epoch magnitudes, and DuckDB's
    ns->us handling truncates identically."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df
