"""worker_imports.steady_zip_imports: a Python worker task re-reads a
zip archive on its import path only when the archive changed, and every
function the package runs inside a worker installs that behaviour."""

import ast
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from conftest import ROOT
from python_etl_rest_api_spark.worker_imports import steady_zip_imports

PACKAGE = os.path.join(ROOT, "python_etl_rest_api_spark")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _reads_during(call):
    """Archive paths ``zipimport`` reads a central directory of while
    ``call()`` runs."""
    real, reads = zipimport._read_directory, []

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    try:
        call()
    finally:
        zipimport._read_directory = real
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``wi_steady_a``, imported from sys.path; the
    original ``invalidate_caches`` is restored afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wi_steady_a": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in ("wi_steady_a", "wi_steady_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    assert importlib.import_module("wi_steady_a").A == 1
    steady_zip_imports()
    hook = zipimport.zipimporter.invalidate_caches
    steady_zip_imports()
    assert zipimport.zipimporter.invalidate_caches is hook  # installs once
    # the first call after the install reads each archive once
    assert str(zip_on_path) in _reads_during(importlib.invalidate_caches)
    assert _reads_during(importlib.invalidate_caches) == []

    _write_zip(zip_on_path, {"wi_steady_a": "A = 1\n",
                             "wi_steady_b": "B = 2\n"})
    assert str(zip_on_path) in _reads_during(importlib.invalidate_caches)
    assert importlib.import_module("wi_steady_b").B == 2


def test_unreadable_archive_falls_back(zip_on_path):
    importlib.import_module("wi_steady_a")
    steady_zip_imports()
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # stat fails: the original method runs
    importer = sys.path_importer_cache[str(zip_on_path)]
    assert importer._files == {}


# Runs from a directory outside the repository with no PYTHONPATH: the
# repository is on the driver's sys.path only. One local[1] worker
# decodes BMPs through _map_payloads, then a probe task on the same
# worker counts the archives importlib.invalidate_caches() re-reads.
_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from python_etl_rest_api_spark.operators import multimodal as mm
from python_etl_rest_api_spark.session import get_spark

spark = get_spark("worker-imports-test")
out = {}
try:
    out["decoded"] = len(mm.decode_bmp_features(
        mm.synthesize_bmp_media(spark, n=4)).collect())
except Exception as exc:
    out["decoded"] = f"{type(exc).__name__}: {exc}"[:500]


def probe(batches):
    import importlib, zipimport
    import pandas as pd
    real, reads = zipimport._read_directory, []

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    yield pd.DataFrame({"zips": [zips], "reads": [len(reads)]})


out["probe"] = spark.range(1).mapInPandas(
    probe, "zips int, reads int").first().asDict()
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def worker_run(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("elsewhere")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    proc = subprocess.run([sys.executable, "-c", _SCRIPT, ROOT], env=env,
                          cwd=str(cwd), capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines()
                if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):])


def test_workers_import_the_package_from_any_cwd(worker_run):
    assert worker_run["decoded"] == 4


def test_worker_task_rereads_no_archive(worker_run):
    """After a _map_payloads task ran on the worker, a later task's
    invalidate_caches() parses no zip directory (Spark's pyspark.zip,
    py4j and jar importers are all on the worker's path)."""
    assert worker_run["probe"]["zips"] > 0
    assert worker_run["probe"]["reads"] == 0


# DataFrame methods whose first argument runs inside a Python worker
_WORKER_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas",
                   "applyInArrow", "applyInPandasWithState"}
_UDF_DECORATORS = {"pandas_udf", "udf"}


def _callee_name(node):
    node = node.func if isinstance(node, ast.Call) else node
    return node.attr if isinstance(node, ast.Attribute) else \
        getattr(node, "id", None)


def _calls_helper_first(fn):
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and \
            isinstance(body[0].value, ast.Constant):
        body = body[1:]                                  # docstring
    return bool(body) and isinstance(body[0], ast.Expr) and \
        isinstance(body[0].value, ast.Call) and \
        _callee_name(body[0].value) == "steady_zip_imports"


def _worker_functions(source):
    """(name, calls the helper first) for every function in ``source``
    that a UDF decorator or a worker-side DataFrame method takes; a
    worker callable that is not a named function reports as
    (``<expr>``, False)."""
    tree = ast.parse(source)
    defs = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            defs.setdefault(node.name, []).append(node)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(
                _callee_name(d) in _UDF_DECORATORS
                for d in node.decorator_list):
            found.append((node.name, _calls_helper_first(node)))
        elif isinstance(node, ast.Call) and \
                isinstance(node.func, ast.Attribute) and \
                node.func.attr in _WORKER_METHODS:
            arg = node.args[0] if node.args else None
            if isinstance(arg, ast.Name) and arg.id in defs:
                found += [(arg.id, _calls_helper_first(fn))
                          for fn in defs[arg.id]]
            else:
                found.append(("<expr>", False))
    return found


def _package_sources():
    for d, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PACKAGE), fh.read()


def test_every_worker_function_installs_the_hook_first():
    found = {(path, name): ok for path, src in _package_sources()
             for name, ok in _worker_functions(src)}
    assert {k for k, ok in found.items() if not ok} == set()
    assert set(found) >= {
        ("operators/multimodal.py", "batches"),
        *(("operators/similarity.py", n) for n in
          ("seq_cosine", "bucket_keys", "nearest", "encode", "adc_pair",
           "adc")),
        ("catalog_quality.py", "gram"),
        ("catalog_quality.py", "gram_full"),
        ("streaming/stateful.py", "_update"),
    }
    # and the hook is called nowhere else
    calls = sum(isinstance(node, ast.Call) and
                _callee_name(node) == "steady_zip_imports"
                for _, src in _package_sources()
                for node in ast.walk(ast.parse(src)))
    assert calls == len(found)


@pytest.mark.parametrize("source", [
    "@pandas_udf('double')\ndef f(s):\n    return s\n",
    "def g(it):\n    yield from it\ndf.mapInPandas(g, 'x int')\n",
    "df.mapInPandas(lambda it: it, 'x int')\n",
])
def test_guard_flags_a_worker_function_without_the_hook(source):
    assert [ok for _, ok in _worker_functions(source)] == [False]
