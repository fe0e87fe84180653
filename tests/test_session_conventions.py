"""Session conventions (session.RUNTIME_CONF) are applied in two places
only: get_spark, and every catalog registry callable (QUERIES and
QUERIES_RAW) before it runs its entry. Queries themselves write no
session conf, so no request's outcome depends on which ran before it.

Also covers the deployment settings: the environment is read in one
function only, and once; the fact-scale broadcast opt-out and a small
shuffle-partition count must not change any result row; the default
driver heap fits the machine."""

import ast
import dataclasses
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import python_etl_rest_api_spark as pkg
from python_etl_rest_api_spark import registry, session
from python_etl_rest_api_spark.catalog import _events
from python_etl_rest_api_spark.session import RUNTIME_CONF, settings, tune
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


# every entry that reaches session.broadcast_factscale
_FACTSCALE = ["q5_local_supplier_volume", "q9_product_profit",
              "dedup_minhash_lsh", "dedup_cluster_components",
              "dedup_cluster_weights", "pipeline_docs_curate",
              "pipeline_training_data"]
# those whose returned plan still holds the hints they were built with
_PLAN_HINTED = {"q5_local_supplier_volume", "q9_product_profit",
                "dedup_minhash_lsh"}


def _broadcast_hints(df):
    return df._jdf.queryExecution().analyzed().toString().count(
        "strategy=broadcast")


def _env_readers(tree):
    """Names of the functions of a module that touch the environment
    (an ``environ``/``environb``/``getenv`` attribute or name); None
    stands for module-level code."""
    found = set()

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        name = getattr(node, "attr", None) or getattr(node, "id", None)
        if name in ("environ", "environb", "getenv"):
            found.add(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_environment_is_read_in_one_function():
    root = os.path.dirname(pkg.__file__)
    readers = set()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as src:
                    tree = ast.parse(src.read())
                readers |= {(os.path.relpath(path, root), func)
                            for func in _env_readers(tree)}
    assert readers == {("session.py", "settings")}


def test_settings_are_read_once(monkeypatch):
    first = settings()
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                "SPARK_GRAFT_NO_FACTSCALE_BROADCAST", "SPARK_ETL_DATA_ROOT"):
        monkeypatch.setenv(var, "1")
    assert settings() is first


def test_default_driver_heap_fits_the_machine(monkeypatch):
    monkeypatch.setattr(session, "_SETTINGS", None)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    heap = settings().driver_memory
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 2**20 <= phys // 2


def test_default_driver_heap_fits_a_cgroup_limit(monkeypatch, tmp_path):
    limit = tmp_path / "memory.max"
    limit.write_text(f"{3 * 2**30}\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS",
                        (str(tmp_path / "absent"), str(limit)))
    assert session._default_driver_memory() == "1536m"
    limit.write_text("max\n")
    assert session._default_driver_memory() != "1536m"


def _run_counting_hints(spark, monkeypatch, name):
    """(frame, rows, broadcast hints made) of one run of entry ``name``.
    The hints are counted as they are made as well as read off the
    returned plan: the cluster and pipeline entries localCheckpoint
    their pair graph, so the plan they return holds none of the hints
    their jobs ran with."""
    made = []

    def counting(df, broadcast=F.broadcast):
        made.append(df)
        return broadcast(df)

    with monkeypatch.context() as m:
        m.setattr(F, "broadcast", counting)
        df = registry.QUERIES[name](spark, SF_DIR)
        rows = _rows(df)
    return df, rows, len(made)


@pytest.mark.parametrize("name", _FACTSCALE)
def test_no_factscale_broadcast_keeps_rows(spark, monkeypatch, name):
    default, want, made = _run_counting_hints(spark, monkeypatch, name)
    monkeypatch.setattr(session, "_SETTINGS", dataclasses.replace(
        settings(), factscale_broadcast=False))
    declarative, got, declarative_made = _run_counting_hints(
        spark, monkeypatch, name)
    assert declarative_made < made
    if name in _PLAN_HINTED:
        assert _broadcast_hints(declarative) < _broadcast_hints(default)
    assert got == want


def test_environment_edit_after_first_read_keeps_plans(spark, monkeypatch):
    name = "q9_product_profit"
    hints = _broadcast_hints(registry.QUERIES[name](spark, SF_DIR))
    assert settings().factscale_broadcast
    monkeypatch.setenv("SPARK_GRAFT_NO_FACTSCALE_BROADCAST", "1")
    assert _broadcast_hints(registry.QUERIES[name](spark, SF_DIR)) == hints


@pytest.mark.parametrize("name", _FACTSCALE)
def test_small_shuffle_partition_count_keeps_rows(spark, name):
    want = _rows(registry.QUERIES[name](spark, SF_DIR))
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    assert _rows(registry.QUERIES[name](s, SF_DIR)) == want
    assert s.conf.get("spark.sql.shuffle.partitions") == "3"
