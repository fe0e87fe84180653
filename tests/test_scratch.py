"""session.scratch_dir: the one owner of the package's scratch storage.

Every scratch copy lives under one per-process root that is removed at
interpreter exit, is built once per (site, input) and is rebuilt when
its input is rewritten."""

import ast
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

from conftest import ROOT, SF_DIR
from python_etl_rest_api_spark.registry import QUERIES
from python_etl_rest_api_spark.session import scratch_dir, scratch_root

PACKAGE = os.path.join(ROOT, "python_etl_rest_api_spark")

# the catalog entries that keep a scratch copy, and the directory
# prefix each one's copy has
SCRATCH_ENTRIES = {
    "layout_partition_pruning": "part_prune_",
    "source_parquet_mergeschema": "mergeschema_",
    "sink_partition_overwrite": "dynpart_",
    "source_csv_corrupt_records": "csv_corrupt_",
    "sim_ann_index_srp_serve": "annidx_shared_",
    "source_json_roundtrip": "json_events_",
    "dedup_incremental_index": "bandidx_",
    "source_orc_roundtrip": "orc_orders_",
    "layout_bucketed_join": "r5_bkt_",
}


def _package_files():
    return [os.path.join(d, f) for d, _, files in os.walk(PACKAGE)
            for f in sorted(files) if f.endswith(".py")]


def _call_sites(module, attr, paths=None):
    """(file, innermost enclosing function) of every ``module.attr(...)``
    or bare ``attr(...)`` call in ``paths`` (default: the package)."""
    sites = []

    class Visitor(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.scope = path, ["<module>"]

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Call(self, node):
            f = node.func
            bare = isinstance(f, ast.Name) and f.id == attr
            # mkdtemp is matched under any module alias (tempfile as _tf)
            dotted = isinstance(f, ast.Attribute) and f.attr == attr and (
                attr == "mkdtemp" or getattr(f.value, "id", "") == module)
            if bare or dotted:
                sites.append((self.path, self.scope[-1]))
            self.generic_visit(node)

    for path in paths or _package_files():
        with open(path) as fh:
            Visitor(os.path.relpath(path, PACKAGE)).visit(
                ast.parse(fh.read()))
    return sites


@pytest.mark.parametrize("module,attr", [("tempfile", "mkdtemp"),
                                         ("atexit", "register")])
def test_one_scratch_owner(module, attr):
    """The package makes a temp dir, and registers an exit hook, in one
    place: session.scratch_root. A new per-call site fails here."""
    assert _call_sites(module, attr) == [("session.py", "scratch_root")]


def test_bench_makes_no_temp_dir():
    """bench.py keeps its scratch copies under the package's scratch
    root too, so a bench run leaves no directory behind."""
    assert _call_sites("tempfile", "mkdtemp",
                       [os.path.join(ROOT, "bench.py")]) == []


def test_concurrent_callers_build_once(tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("x")
    builds = []
    barrier = threading.Barrier(2)

    def build(d):
        builds.append(d)
        time.sleep(0.3)
        with open(os.path.join(d, "out"), "w") as fh:
            fh.write("done")

    got = []

    def call():
        barrier.wait()
        got.append(scratch_dir("test_threads_", build, [str(src)]))

    threads = [threading.Thread(target=call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert got[0] == got[1]
    assert open(os.path.join(got[0], "out")).read() == "done"


def test_failed_build_leaves_nothing_and_retries(tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("y")

    def broken(d):
        with open(os.path.join(d, "partial"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scratch_dir("test_broken_", broken, [str(src)])
    assert not [n for n in os.listdir(scratch_root())
                if n.startswith("test_broken_")]
    path = scratch_dir("test_broken_", lambda d: open(
        os.path.join(d, "ok"), "w").close(), [str(src)])
    assert os.listdir(path) == ["ok"]


def _rewrite_smaller(path):
    """Rewrite a parquet file in place with every other row, and move
    its mtime so even a same-tick rewrite is seen."""
    table = pq.read_table(path)
    pq.write_table(table.take(list(range(0, table.num_rows, 2))), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def _rows(spark, name, sf_dir):
    return sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())


@pytest.mark.parametrize("name,table", [
    ("source_orc_roundtrip", "orders"),
    ("layout_partition_pruning", "events"),
])
def test_rewritten_input_gets_a_fresh_copy(spark, tmp_path, name, table):
    """An entry over an sf_dir whose table was rewritten in place answers
    for the new table, exactly as over a fresh copy of it."""
    live, fresh = tmp_path / "live", tmp_path / "fresh"
    live.mkdir()
    fresh.mkdir()
    f = f"{table}.parquet"
    shutil.copy(f"{SF_DIR}/{f}", live / f)
    before = _rows(spark, name, str(live))
    _rewrite_smaller(str(live / f))
    shutil.copy(live / f, fresh / f)
    after = _rows(spark, name, str(live))
    assert after != before
    assert after == _rows(spark, name, str(fresh))


# Runs every scratch entry 3 times and the single-file stream shim 3
# times in a fresh interpreter, prints the scratch root's listing, and
# exits; the test then inspects TMPDIR.
_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from python_etl_rest_api_spark.registry import QUERIES
from python_etl_rest_api_spark.session import get_spark, scratch_root
from python_etl_rest_api_spark.streaming.windows import run_stream_on_batch

spark = get_spark("scratch-test")
sf_dir, out_dir, names = sys.argv[2], sys.argv[3], sys.argv[4:]
for name in names:
    for _ in range(3):
        QUERIES[name](spark, sf_dir).collect()
for i in range(3):
    run_stream_on_batch(spark, sf_dir + "/events.parquet",
                        lambda s: s.select("event_id"), f"{out_dir}/s{i}")
print("LISTING " + json.dumps(sorted(os.listdir(scratch_root()))))
"""


@pytest.fixture(scope="module")
def scratch_run(tmp_path_factory):
    tmpdir = tmp_path_factory.mktemp("tmpdir")
    out_dir = tmp_path_factory.mktemp("stream_out")
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_DRIVER_MEM="2g",
               SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, ROOT, SF_DIR, str(out_dir),
         *SCRATCH_ENTRIES],
        env=env, cwd=str(out_dir), capture_output=True, text=True,
        timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines()
                if x.startswith("LISTING "))
    return json.loads(line[len("LISTING "):]), tmpdir


def test_one_copy_per_site_and_input(scratch_run):
    listing, _ = scratch_run
    prefixes = [*SCRATCH_ENTRIES.values(), "stream_src_"]
    for prefix in prefixes:
        assert sum(n.startswith(prefix) for n in listing) == 1, (
            prefix, listing)
    assert len(listing) == len(prefixes), listing


def test_nothing_left_after_exit(scratch_run):
    _, tmpdir = scratch_run
    assert os.listdir(tmpdir) == []


def test_scratch_root_is_private():
    assert os.stat(scratch_root()).st_mode & 0o777 == 0o700
