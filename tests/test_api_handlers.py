"""The REST endpoint bodies, run as the plain ``Api`` methods they are
(fastapi is not needed): /etl/run, the flagship view with both filter
patterns and both paging styles, the catalog endpoints, First100, data
root confinement, /health and every 400/403/404 - plus the
``build_app`` route table, registered against a stub framework."""

import asyncio
import dataclasses
import datetime
import json
import os
import shutil
import types

import pytest
from conftest import SF_DIR
from test_e2e import CSV as REF_CSV

from python_etl_rest_api_spark import registry
from python_etl_rest_api_spark.api import app as app_mod
from python_etl_rest_api_spark.api.app import MAX_OFFSET, Api, ApiError
from python_etl_rest_api_spark.session import settings

COMPANIES = {"c01": "Alpha", "c02": "Beta", "c03": "Gamma"}
DAYS = [datetime.date(2024, 3, d) for d in range(1, 6)]
HEADER = "id,name,company_id,amount,status,created_at,paid_at\n"


def _clean_rows():
    """60 valid charges: i mod 15 picks the (company, day) pair, so each
    of the 3 x 5 view rows sums 4 charges."""
    cids = sorted(COMPANIES)
    for i in range(60):
        cid, day, cents = cids[i % 3], DAYS[i % 5], 1000 + 37 * i
        yield (f"ch{i:03d}", COMPANIES[cid], cid,
               f"{cents // 100}.{cents % 100:02d}", "paid", day.isoformat(),
               "")


# critical tier: no id, and an amount that does not parse
CRITICAL = [("", "Alpha", "c01", "5.00", "paid", "2024-03-01", ""),
            ("ch999", "Beta", "c02", "abc", "paid", "2024-03-02", "")]


def _expected(lo=DAYS[0], hi=DAYS[-1]):
    """View rows in page order (all columns ascending)."""
    cents = {}
    for _, name, _, amount, _, day, _ in _clean_rows():
        day = datetime.date.fromisoformat(day)
        if lo <= day <= hi:
            key = (name, day)
            cents[key] = cents.get(key, 0) + round(float(amount) * 100)
    return sorted((name, day, c / 100) for (name, day), c in cents.items())


def _rows(page):
    return [(r["company_name"], r["transaction_date"], r["total_amount"])
            for r in page["rows"]]


def _status(fn, *args, **kwargs) -> int:
    with pytest.raises(ApiError) as exc:
        fn(*args, **kwargs)
    return exc.value.args[0]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    root = tmp_path_factory.mktemp("api_root")
    with open(root / "charges.csv", "w") as f:
        f.write(HEADER)
        f.writelines(",".join(r) + "\n" for r in [*_clean_rows(), *CRITICAL])
    return root


@pytest.fixture(scope="module")
def api(spark, root):
    return Api(spark, state_path=str(root / "f100"), data_root=str(root))


@pytest.fixture(scope="module")
def catalog_api(spark, root):
    return Api(spark, state_path=str(root / "f100c"),
               data_root=os.path.dirname(SF_DIR))


@pytest.fixture(scope="module")
def etl(spark, api, root):
    """One /etl/run into <root>/wh: (response, persisted RDDs it left)."""
    before = _persisted(spark)
    out = api.etl_run(str(root / "charges.csv"), str(root / "wh"))
    return out, _persisted(spark) - before


@pytest.fixture(scope="module")
def wh(etl):
    return etl[0]["out_dir"]


def test_etl_run_counts_tables_and_releases_its_cache(etl, root):
    out, left_cached = etl
    assert out == {"counts": {"original": 62, "clean": 60, "critical": 2},
                   "out_dir": os.path.realpath(root / "wh")}
    for table in ("clean", "critical", "companies", "charges"):
        assert os.path.isdir(os.path.join(out["out_dir"], table))
    assert left_cached == 0


@pytest.mark.skipif(not os.path.exists(REF_CSV),
                    reason="reference CSV not present")
def test_etl_run_on_the_reference_csv(api, root):
    csv = shutil.copy(REF_CSV, root / "reference.csv")
    out = api.etl_run(str(csv), str(root / "ref_wh"))
    assert out["counts"] == {"original": 10000, "clean": 9986,
                             "critical": 14}
    assert sorted(os.listdir(out["out_dir"])) == [
        "charges", "clean", "companies", "critical"]


def test_etl_run_missing_csv_is_404(api, root):
    assert _status(api.etl_run, str(root / "nope.csv"),
                   str(root / "wh_x")) == 404


def test_paths_outside_the_root_are_403(api, root, tmp_path):
    link = root / "escape"
    if not link.exists():
        os.symlink(tmp_path, link)
    outside = ["/etc", f"{root}2/x", str(root / ".." / "x"), str(link),
               str(link / "charges.csv")]
    csv = str(root / "charges.csv")
    for path in outside:
        assert _status(api.etl_run, path, str(root / "wh_x")) == 403, path
        assert _status(api.etl_run, csv, path) == 403, path
        assert _status(api.view_daily, path) == 403, path
    assert _status(api.catalog_run, "h1_daily_totals", SF_DIR) == 403


def test_view_by_date(api, wh):
    page = api.view_daily(wh, date="2024-03-02")
    assert _rows(page) == _expected(DAYS[1], DAYS[1])
    assert (page["limit"], page["offset"], page["next"]) == (1000, 0, None)
    assert len(_rows(api.view_daily(wh))) == 15      # no filter


def test_view_range_pages_by_offset_and_by_keyset(api, wh):
    want = _expected(DAYS[1], DAYS[3])
    assert len(want) == 9
    by_offset, offset = [], 0
    while True:
        page = api.view_daily(wh, start="2024-03-02", end="2024-03-04",
                              limit=4, offset=offset)
        by_offset += _rows(page)
        if page["next"] is None:
            break
        offset += 4
    by_keyset, after = [], None
    while True:
        page = api.view_daily(wh, start="2024-03-02", end="2024-03-04",
                              limit=4, after=after)
        by_keyset += _rows(page)
        if page["next"] is None:
            break
        after = json.dumps(page["next"])
    assert by_offset == by_keyset == want
    assert offset == 8


def test_view_bad_inputs_are_400(api, wh):
    for params in ({"date": "garbage"}, {"date": "2024-13-01"},
                   {"start": "2024-03-01"}, {"end": "2024-03-03"},
                   {"start": "2024-03-01", "end": "03/03/2024"},
                   {"after": "[1]"}, {"after": "not json"},
                   {"offset": MAX_OFFSET + 1}):
        assert _status(api.view_daily, wh, **params) == 400, params


def test_cursor_check_without_plan_folding(api, wh, monkeypatch):
    """When the cursor's cast probe cannot be read off the optimized
    plan, parse_cursor executes it: a good cursor still pages and a
    garbage cell is still a 400."""
    monkeypatch.setattr(app_mod, "_folded_nulls", lambda probe_df: None)
    first = api.view_daily(wh, limit=4)
    second = api.view_daily(wh, limit=4, after=json.dumps(first["next"]))
    assert _rows(second) == _expected()[4:8]
    bad = [first["next"][0], "not-a-date", first["next"][2]]
    assert _status(api.view_daily, wh, after=json.dumps(bad)) == 400


def test_catalog_index_lists_the_catalog(catalog_api):
    out = catalog_api.catalog_index()
    assert out["count"] == 315 == len(out["queries"])


def test_catalog_run_pages_by_offset_and_by_keyset(catalog_api):
    name, limit = "h1_daily_totals", 700
    total = registry.QUERIES_RAW[name](catalog_api.spark, SF_DIR).count()
    assert total > 2 * limit
    by_offset, by_keyset, after = [], [], None
    for offset in range(0, total, limit):
        page = catalog_api.catalog_run(name, SF_DIR, limit=limit,
                                       offset=offset)
        assert page["columns"] == ["c_name", "transaction_date",
                                   "total_amount"]
        by_offset += page["rows"]
    while True:
        page = catalog_api.catalog_run(name, SF_DIR, limit=limit,
                                       after=after)
        by_keyset += page["rows"]
        if page["next"] is None:
            break
        after = json.dumps(page["next"])
    assert len(by_offset) == total
    assert by_keyset == by_offset


def test_catalog_run_errors(catalog_api):
    assert _status(catalog_api.catalog_run, "no_such_entry", SF_DIR) == 404
    assert _status(catalog_api.catalog_run, "h1_daily_totals", SF_DIR,
                   offset=MAX_OFFSET + 1) == 400
    assert _status(catalog_api.catalog_run, "h1_daily_totals", SF_DIR,
                   after="[]") == 400
    assert _status(catalog_api.catalog_run, "h1_daily_totals",
                   "/etc") == 403


def test_missing_dataset_is_404(api, root):
    # root holds charges.csv only: no charges/companies warehouse
    # tables, no orders.parquet
    assert _status(api.view_daily, str(root)) == 404
    assert _status(api.catalog_run, "h1_daily_totals", str(root)) == 404


def test_first100_extract_missing_reset(api):
    assert api.reset() == {"status": "reset", "remaining_count": 100}
    assert _status(api.missing) == 400                # nothing extracted
    assert api.extract(42) == {"extracted": 42, "remaining_count": 99}
    assert _status(api.extract, 42) == 400            # duplicate
    assert api.missing() == {"missing": 42}
    for out_of_range in (0, 101):
        assert _status(api.extract, out_of_range) == 400
    api.extract(7)
    assert _status(api.missing) == 400                # two extracted
    api.reset()
    assert _status(api.missing) == 400


def test_build_app_is_a_route_table(spark, tmp_path, monkeypatch):
    """build_app against a stub framework: one Api, eight routes that
    each call its method, and one handler mapping ApiError to its
    status."""
    class StubApp:
        def __init__(self, **_):
            self.routes, self.handlers = {}, {}

        def add_api_route(self, path, endpoint, methods):
            self.routes[(*methods, path)] = endpoint

        def post(self, path):
            return lambda fn: self.add_api_route(path, fn, ["POST"]) or fn

        def exception_handler(self, exc_class):
            return lambda fn: self.handlers.setdefault(exc_class, fn)

    class StubHTTPException(Exception):
        def __init__(self, status_code, detail=None):
            self.status_code, self.detail = status_code, detail

    async def http_exception_handler(request, exc):
        return exc.status_code, exc.detail

    monkeypatch.setattr(app_mod, "HAVE_FASTAPI", True)
    monkeypatch.setattr(app_mod, "FastAPI", StubApp, raising=False)
    monkeypatch.setattr(app_mod, "HTTPException", StubHTTPException,
                        raising=False)
    monkeypatch.setattr(app_mod, "http_exception_handler",
                        http_exception_handler, raising=False)
    app = app_mod.build_app(spark, state_path=str(tmp_path / "f100"),
                            data_root=str(tmp_path))
    assert set(app.routes) == {
        ("GET", "/health"), ("POST", "/extract"), ("GET", "/missing"),
        ("POST", "/reset"), ("POST", "/etl/run"),
        ("GET", "/view/daily_company_totals"), ("GET", "/catalog"),
        ("GET", "/catalog/{name}")}
    apis = {getattr(fn, "__self__", None) for fn in app.routes.values()}
    assert len(apis - {None}) == 1                    # one Api behind all
    # every setting, with this Api's root; the test session is
    # get_spark's, so it has what the settings say
    assert app.routes["GET", "/health"]() == {
        "status": "ok", "spark_version": spark.version,
        "settings": {**dataclasses.asdict(settings()),
                     "data_root": os.path.realpath(tmp_path)},
        "session": {
            "master": f"local[{settings().cpus}]",
            "shuffle_partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": settings().driver_memory}}
    extract = app.routes["POST", "/extract"]
    assert extract(types.SimpleNamespace(number=3))["extracted"] == 3
    with pytest.raises(ApiError) as dup:
        extract(types.SimpleNamespace(number=3))
    with pytest.raises(ApiError) as unknown:
        app.routes["GET", "/catalog/{name}"]("no_such_entry", str(tmp_path))
    handle = app.handlers[ApiError]
    assert asyncio.run(handle(None, dup.value)) == (
        400, "3 was already extracted")
    assert asyncio.run(handle(None, unknown.value)) == (
        404, "no such catalog entry: no_such_entry")
