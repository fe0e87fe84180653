"""The benchmark's workloads: closed loop, one client, one Spark session.

Each workload stages its seeded inputs (``stage``), optionally prepares
state that is not a query pass of the measured path (``prepare``), then
runs units of work (``unit``): a round of REST requests or a decode
pass. Every unit drives the program only through the public functions
its REST endpoint or batch job calls, and every result is checked
against the generator's own answers.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass

import gen


@dataclass
class Sample:
    """One timed operation: a request or a decode pass."""
    kind: str
    seconds: float
    ok: bool
    traced: bool


def value_hash(rows) -> str:
    """Order-insensitive hash of a collected result."""
    reprs = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(reprs).encode()).hexdigest()[:16]


def _timed(tr, kind: str, run, check) -> Sample:
    """Time one operation ``run()``, then check its result with
    ``check(result) -> bool`` outside the timed interval. An exception is
    a failed operation, reported but not fatal. In a traced run the
    counters are read after the operation, also outside its latency."""
    t0 = time.perf_counter()
    try:
        with tr.op(kind):
            t0 = time.perf_counter()
            out = run()
            seconds = time.perf_counter() - t0
        ok = bool(check(out))
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        seconds = time.perf_counter() - t0
        print(f"# FAIL {kind}: {type(exc).__name__}: {exc}"[:400],
              file=sys.stderr, flush=True)
        ok = False
    return Sample(kind, seconds, ok, tr.enabled)


def _cents_match(total: float, cents: int) -> bool:
    return round(total * 100) == cents


# ---------------------------------------------------------------------
# serve: the REST endpoint bodies against a warehouse the ETL built
# ---------------------------------------------------------------------

# /catalog/{name} entries, one page of each per serve round. The ETL
# entry builds from inline data; its expected (row count,
# order-insensitive value hash) is pinned (the repository's DuckDB
# oracle also checks its output). The flagship view entry reads the
# orders/customer tables that staging writes, through the catalog's own
# dataset readers, and must page out the generator's totals. Every round
# holds the same requests, so rounds are comparable with each other.
ETL_ENTRY = ("etl_clean_pipeline", (6, "0d0dcc47579aac1f"))
VIEW_ENTRY = "h1_daily_totals"
CATALOG_PAGE = 1000
# column types of the test-dataset tables (TESTDATA.md) that VIEW_ENTRY reads
TESTDATA_TYPES = {
    "orders": [("o_orderkey", "int64"), ("o_custkey", "int64"),
               ("o_orderstatus", "string"), ("o_totalprice", "float64"),
               ("o_orderdate", "timestamp[us]"),
               ("o_orderpriority", "string")],
    "customer": [("c_custkey", "int64"), ("c_name", "string"),
                 ("c_nationkey", "int32"), ("c_acctbal", "float64"),
                 ("c_mktsegment", "string")],
}
PAGE = 100          # keyset page size of the date-range requests
RANGE_DAYS = 7


class Serve:
    """Each unit is one round of requests in seeded order: view by date;
    view by date range plus one keyset page; First100 reset / extract /
    missing; one /catalog/{name} page of ETL_ENTRY and one of
    VIEW_ENTRY."""

    ROWS = 30_000
    COMPANIES = 40
    DAYS = 60

    def __init__(self, spark, tr, work: str, seed: int):
        self.spark, self.tr, self.work, self.seed = spark, tr, work, seed
        self.rng = random.Random(seed ^ 0x5E12E)

    def stage(self, into: str) -> None:
        os.makedirs(into)
        self.charges = gen.charges_csv(self.seed, self.ROWS, self.COMPANIES,
                                       self.DAYS)
        self.csv = os.path.join(into, "charges.csv")
        with open(self.csv, "w") as f:
            f.write(self.charges.text)
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.sf_dir = os.path.join(into, "catalog")
        os.makedirs(self.sf_dir)
        orders, customer = gen.orders_customer(self.seed,
                                               self.charges.totals)
        for name, cols in (("orders", orders), ("customer", customer)):
            schema = pa.schema([pa.field(c, t)
                                for c, t in TESTDATA_TYPES[name]])
            pq.write_table(pa.table(cols, schema=schema),
                           os.path.join(self.sf_dir, f"{name}.parquet"))
        self.items = 8                       # requests per round

    def prepare(self) -> None:
        """Build the warehouse the endpoints read, with the ETL path."""
        from python_etl_rest_api_spark.operators.clean import (
            build_dim_fact, clean_pipeline)
        from python_etl_rest_api_spark.operators.first100 import First100
        from python_etl_rest_api_spark.operators.load import atomic_overwrite
        from python_etl_rest_api_spark.sources.csv_source import (
            read_charges_csv)
        tr = self.tr
        self.wh = os.path.join(self.work, "warehouse")
        with tr.span("sources.read"):
            raw = read_charges_csv(self.spark, self.csv)
        with tr.span("clean.pipeline"):
            clean, _ = clean_pipeline(raw)
            companies, charges = build_dim_fact(clean)
        for name, df in (("companies", companies), ("charges", charges)):
            with tr.span(f"load.write.{name}"):
                atomic_overwrite(df, os.path.join(self.wh, name))
        self.first100 = First100(self.spark,
                                 store_path=os.path.join(self.work, "f100"))
        by_day: dict[str, list] = {}
        for (name, day), cents in self.charges.totals.items():
            by_day.setdefault(day, []).append((name, day, cents))
        self.by_day = by_day
        self.days = sorted(by_day)

    # -- endpoint bodies ----------------------------------------------
    def _view(self):
        from python_etl_rest_api_spark.operators.analytics import (
            daily_company_totals)
        tr = self.tr
        with tr.span("sources.read"):
            charges = self.spark.read.parquet(os.path.join(self.wh,
                                                           "charges"))
            companies = self.spark.read.parquet(os.path.join(self.wh,
                                                             "companies"))
        with tr.span("api.view_build"):
            view = daily_company_totals(charges, companies)
        return view

    def _view_date(self, day: str):
        from pyspark.sql import functions as F

        from python_etl_rest_api_spark.api.app import next_cursor, paginate
        tr = self.tr
        view = self._view()
        with tr.span("api.view_build"):
            view = view.filter(F.col("transaction_date")
                               == F.lit(day).cast("date"))
        tr.frame(view)
        with tr.span("api.paginate"):
            page, limit, _ = paginate(view, 1000)
        return page, next_cursor(view.columns, page, limit)

    def _range_view(self, start: str, end: str):
        from pyspark.sql import functions as F
        view = self._view()
        with self.tr.span("api.view_build"):
            view = view.filter(F.col("transaction_date").between(start, end))
        return self.tr.frame(view)

    def _view_range(self, start: str, end: str, state: dict):
        from python_etl_rest_api_spark.api.app import next_cursor, paginate
        view = self._range_view(start, end)
        with self.tr.span("api.paginate"):
            page, limit, _ = paginate(view, PAGE)
        state["next"] = next_cursor(view.columns, page, limit)
        return page

    def _view_range_next(self, start: str, end: str, state: dict):
        from python_etl_rest_api_spark.api.app import (next_cursor, paginate,
                                                       parse_cursor)
        tr = self.tr
        view = self._range_view(start, end)
        with tr.span("api.parse_cursor"):
            cursor = parse_cursor(view, json.dumps(state["next"]))
        with tr.span("api.paginate"):
            page, limit, _ = paginate(view, PAGE, after=cursor)
        next_cursor(view.columns, page, limit)    # the response's "next"
        return page

    def _catalog(self, name: str):
        from python_etl_rest_api_spark import opcache, registry
        from python_etl_rest_api_spark.api.app import paginate
        tr = self.tr
        try:
            with tr.span("catalog.build"):
                df = tr.frame(registry.QUERIES_RAW[name](self.spark,
                                                         self.sf_dir))
            with tr.span("api.paginate"):
                page, _, _ = paginate(df, CATALOG_PAGE)
        finally:
            with tr.span("opcache.release"):
                opcache.release_all()
        return page

    def _call(self, span: str, fn):
        with self.tr.span(span):
            return fn()

    # -- checks against the generator's answers -----------------------
    def _rows(self, start: str, end: str) -> list:
        """Expected view rows in page order (all columns ascending)."""
        return sorted(r for d in self.days if start <= d <= end
                      for r in self.by_day[d])

    @staticmethod
    def _page_is(page, want) -> bool:
        got = [(name, day.isoformat(), total) for name, day, total in page]
        return len(got) == len(want) and all(
            g[:2] == w[:2] and _cents_match(g[2], w[2])
            for g, w in zip(got, want))

    def unit(self) -> list[Sample]:
        rng = self.rng
        day = rng.choice(self.days)
        first = rng.randrange(len(self.days) - RANGE_DAYS)
        start, end = self.days[first], self.days[first + RANGE_DAYS - 1]
        k = rng.randint(1, 100)
        state: dict = {}
        f100 = self.first100
        groups = [
            [("view_date", lambda: self._view_date(day),
              lambda out: out[1] is None
              and self._page_is(out[0], self._rows(day, day)))],
            [("view_range", lambda: self._view_range(start, end, state),
              lambda page: self._page_is(page,
                                         self._rows(start, end)[:PAGE])),
             ("view_range_next",
              lambda: self._view_range_next(start, end, state),
              lambda page: self._page_is(
                  page, self._rows(start, end)[PAGE:2 * PAGE]))],
            [("first100_reset",
              lambda: self._call("first100.reset", f100.reset),
              lambda out: out == {"status": "reset",
                                  "remaining_count": 100}),
             ("first100_extract",
              lambda: self._call("first100.extract",
                                 lambda: f100.extract(k)),
              lambda out: out == {"extracted": k, "remaining_count": 99}),
             ("first100_missing",
              lambda: self._call("first100.missing", f100.missing),
              lambda out: out == k)],
            [("catalog_etl", lambda: self._catalog(ETL_ENTRY[0]),
              lambda page: (len(page), value_hash(page)) == ETL_ENTRY[1])],
            [("catalog_view", lambda: self._catalog(VIEW_ENTRY),
              lambda page: self._page_is(
                  page, self._rows(self.days[0],
                                   self.days[-1])[:CATALOG_PAGE]))],
        ]
        rng.shuffle(groups)
        return [_timed(self.tr, kind, run, check)
                for group in groups for kind, run, check in group]


# ---------------------------------------------------------------------
# media: multimodal decode of staged images
# ---------------------------------------------------------------------

class Media:
    """Each unit decodes every staged image once: one
    decode_{bmp,png,jpeg}_features call per codec over its parquet
    table, results collected and checked."""

    SIDE = 256
    COUNTS = {"bmp": 96, "png": 16, "jpeg": 4}

    def __init__(self, spark, tr, work: str, seed: int):
        self.spark, self.tr, self.work, self.seed = spark, tr, work, seed

    def stage(self, into: str) -> None:
        """Write the images as parquet tables in MEDIA_SCHEMA, one file
        per core so each decode runs on every core."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(into)
        imgs = gen.images(self.seed, self.COUNTS, self.SIDE)
        cores = len(os.sched_getaffinity(0))
        schema = pa.schema([
            ("media_id", pa.int64()), ("kind", pa.string()),
            ("mime", pa.string()), ("payload", pa.binary()),
            ("meta", pa.struct([("width", pa.int32()),
                                ("height", pa.int32()),
                                ("duration_ms", pa.int32())]))])
        self.tables, self.expected = {}, {}
        for kind in self.COUNTS:
            mine = [im for im in imgs if im.mime == f"image/{kind}"]
            path = os.path.join(into, kind)
            os.makedirs(path)
            for part in range(cores):
                chunk = mine[part::cores]
                pq.write_table(pa.table({
                    "media_id": [im.media_id for im in chunk],
                    "kind": ["image"] * len(chunk),
                    "mime": [im.mime for im in chunk],
                    "payload": [im.payload for im in chunk],
                    "meta": [{"width": im.width, "height": im.height,
                              "duration_ms": None} for im in chunk],
                }, schema=schema), os.path.join(path, f"part-{part}.parquet"))
            self.tables[kind] = path
            self.expected[kind] = {im.media_id: im.expected for im in mine}
        self.items = len(imgs)

    def prepare(self) -> None:
        pass

    def unit(self) -> list[Sample]:
        return [_timed(self.tr, "decode_pass", self._pass,
                       lambda got: got == self.expected)]

    def _pass(self) -> dict:
        from python_etl_rest_api_spark.operators import multimodal as mm
        decoders = {"bmp": mm.decode_bmp_features,
                    "png": mm.decode_png_features,
                    "jpeg": mm.decode_jpeg_features}
        tr = self.tr
        got = {}
        for kind, decode in decoders.items():
            with tr.span("sources.read"):
                media = self.spark.read.parquet(self.tables[kind])
            with tr.span(f"multimodal.decode.{kind}"):
                df = tr.frame(decode(media))
                rows = df.collect()
            got[kind] = {r[0]: tuple(r[1:]) for r in rows}
        return got


WORKLOADS = {"serve": Serve, "media": Media}


def stage_repeated(wl, work: str, times: int) -> list[float]:
    """Stage the inputs ``times`` times into fresh directories; the last
    staging is the one the run uses. Returns each staging's wall time."""
    walls = []
    for i in range(times):
        into = os.path.join(work, f"inputs-{i}")
        t0 = time.perf_counter()
        wl.stage(into)
        walls.append(time.perf_counter() - t0)
        if i < times - 1:
            shutil.rmtree(into)
    return walls
