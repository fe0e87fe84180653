"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``python_etl_rest_api_spark``; this module is the
thin contract layer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from python_etl_rest_api_spark import registry

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: daily_company_totals
    (reference sql/02_view.sql:4-11) mapped onto orders x customer -
    broadcast dim join, one shuffle on the group keys, decimal-exact sums.
    Runs through the registry, which applies the session conventions to
    the driver's session first.
    """
    return registry.QUERIES["h1_daily_totals"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2 plus the
    extension surface (dedup / similarity / text / events)."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query - one for EVERY queries() entry
    (asserted below, so the count can never silently drift from the
    registered surface) - including minhash/simhash (portable md5
    variants), the ANN paths (pinned-seed / sequential-fold value
    oracles) and the end-to-end curation funnel - so the driver
    value-hashes the full surface."""
    assert registry.ORACLES.keys() == registry.QUERIES.keys()
    return dict(registry.ORACLES)
