"""Session conventions (session.RUNTIME_CONF) are applied in two places
only: get_spark, and every catalog registry callable (QUERIES and
QUERIES_RAW) before it runs its entry. Queries themselves write no
session conf, so no request's outcome depends on which ran before it.

Also covers the two non-default deployment settings (the fact-scale
broadcast opt-out and a small shuffle-partition count), which must not
change any result row."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_etl_rest_api_spark import registry
from python_etl_rest_api_spark.catalog import _events
from python_etl_rest_api_spark.session import RUNTIME_CONF, tune
from python_etl_rest_api_spark.streaming.windows import run_stream_on_batch

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _foreign_session(spark):
    """A session the engine did not build, with conventions that differ
    from RUNTIME_CONF in ways that change results or plans."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    return s


@pytest.mark.parametrize("table", ["QUERIES", "QUERIES_RAW"])
@pytest.mark.parametrize("name", ["h1_daily_totals",
                                  "stream_tumbling_hourly"])
def test_registry_applies_conventions_to_external_session(spark, table,
                                                          name):
    # stream_tumbling_hourly reads events.parquet, whose TIMESTAMP_NTZ
    # ``ts`` becomes an instant in the session time zone: under Los
    # Angeles every hour bucket would move by 8 h.
    want = _rows(registry.QUERIES[name](spark, SF_DIR))
    s2 = _foreign_session(spark)
    got = _rows(getattr(registry, table)[name](s2, SF_DIR))
    assert got == want
    assert {k: s2.conf.get(k) for k in RUNTIME_CONF} == RUNTIME_CONF


def test_entry_smoke_path_applies_conventions(spark):
    import __spark_entry__

    s2 = _foreign_session(spark)
    __spark_entry__.entry(s2)
    assert {k: s2.conf.get(k) for k in RUNTIME_CONF} == RUNTIME_CONF


def test_queries_write_no_session_conf(spark, tmp_path):
    s = tune(spark.newSession())
    before = s.conf.getAll
    registry.QUERIES["events_rolling_1h"](s, SF_DIR).collect()
    run_stream_on_batch(s, f"{SF_DIR}/events.parquet", lambda df: df,
                        str(tmp_path / "out"))
    assert s.conf.getAll == before


# 2024-03-01T12:00:00Z plus sub-microsecond parts that the conversion
# must drop by exact integer division
_NANOS = [1_709_294_400_000_000_000 + k * 3_600_000_000_123 + 789
          for k in range(5)]


@pytest.fixture()
def nanos_events(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    table = pa.table({
        "event_id": pa.array(range(len(_NANOS)), pa.int64()),
        "ts": pa.array(_NANOS, pa.timestamp("ns", tz="UTC")),
        "user_id": pa.array([1] * len(_NANOS), pa.int64()),
        "event_type": pa.array(["view"] * len(_NANOS)),
        "value": pa.array([1.0] * len(_NANOS)),
        "props": pa.array(["{}"] * len(_NANOS)),
    })
    pq.write_table(table, str(d / "events.parquet"), version="2.6")
    assert pq.read_schema(str(d / "events.parquet")).field("ts").type.unit \
        == "ns"
    return str(d)


def _ts_micros(df):
    assert df.schema["ts"].dataType == T.TimestampType()
    return sorted(r[0] for r in
                  df.select(F.unix_micros("ts")).collect())


def test_nanos_timestamps_load_as_plain_long(spark, nanos_events):
    s = tune(spark.newSession())
    ts = s.read.parquet(f"{nanos_events}/events.parquet").schema["ts"]
    assert ts.dataType == T.LongType()


def test_events_reader_converts_nanos_timestamps(spark, nanos_events):
    assert _ts_micros(_events(spark, nanos_events)) \
        == [n // 1000 for n in _NANOS]


def test_stream_harness_converts_nanos_timestamps(spark, nanos_events,
                                                  tmp_path):
    out = str(tmp_path / "out")
    run_stream_on_batch(spark, f"{nanos_events}/events.parquet",
                        lambda df: df, out)
    assert _ts_micros(spark.read.parquet(out)) \
        == [n // 1000 for n in _NANOS]


_FACTSCALE = ["q5_local_supplier_volume", "q9_product_profit",
              "dedup_minhash_lsh"]


def _broadcast_hints(df):
    return df._jdf.queryExecution().analyzed().toString().count(
        "strategy=broadcast")


@pytest.mark.parametrize("name", _FACTSCALE)
def test_no_factscale_broadcast_keeps_rows(spark, monkeypatch, name):
    default = registry.QUERIES[name](spark, SF_DIR)
    want, hints = _rows(default), _broadcast_hints(default)
    monkeypatch.setenv("SPARK_GRAFT_NO_FACTSCALE_BROADCAST", "1")
    declarative = registry.QUERIES[name](spark, SF_DIR)
    assert _broadcast_hints(declarative) < hints
    assert _rows(declarative) == want


@pytest.mark.parametrize("name", _FACTSCALE)
def test_small_shuffle_partition_count_keeps_rows(spark, name):
    want = _rows(registry.QUERIES[name](spark, SF_DIR))
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    assert _rows(registry.QUERIES[name](s, SF_DIR)) == want
    assert s.conf.get("spark.sql.shuffle.partitions") == "3"
