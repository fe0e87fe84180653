"""FastAPI orchestration shell: Spark jobs via REST (reference api/main.py).

Replicates the reference's endpoint surface and error model exactly
(reference api/main.py:12-39, api/first100.py:3-48):
- POST /extract  {number: int in [1,100]} -> 400 on out-of-range/duplicate
- GET  /missing  -> Gauss-sum missing number; 400 unless exactly 1 extracted
- POST /reset    -> fresh state
plus the engine endpoints that make this an analytics service:
- POST /etl/run                  -> run the cleaning pipeline on a CSV path
- GET  /view/daily_company_totals?date=/start=/end= -> the flagship view
- GET  /catalog, /catalog/{name} -> the whole analytics catalog over REST
- GET  /health

The endpoint bodies are the plain methods of :class:`Api`: each returns
the response dict or raises ``ApiError(status, detail)``, so they run
without fastapi. :func:`build_app` is only the route table over them.
The view and /catalog/{name} page alike, by ``offset=`` or by the keyset
cursor ``after=`` that every full page returns as ``next``.

State is table-backed (append-only parquet store, read once per check,
duplicate races adjudicated read-after-write - see
operators/first100.py), not a process global: multiple workers converge
on the same state, unlike the reference (SURVEY.md L7). A single
SparkSession lives for the app's lifetime. Client-supplied paths are
confined to a configured data root (403 outside it).
"""

from __future__ import annotations

import datetime
import os
import tempfile
from contextlib import contextmanager

try:
    from fastapi import FastAPI, HTTPException
    from fastapi.exception_handlers import http_exception_handler
    from pydantic import BaseModel, Field

    class ExtractRequest(BaseModel):
        # reference api/main.py:12-13: Pydantic ge/le -> 422; the
        # explicit range check in First100 -> 400 for raw ints
        number: int = Field(..., ge=1, le=100)

    HAVE_FASTAPI = True
except ImportError:  # container may lack fastapi; engine still importable
    HAVE_FASTAPI = False

from pyspark.sql import functions as F

from .. import opcache, registry
from ..operators.analytics import daily_company_totals
from ..operators.clean import build_dim_fact, clean_pipeline
from ..operators.first100 import First100, ValidationError
from ..operators.load import atomic_overwrite
from ..session import get_spark
from ..sources.csv_source import read_charges_csv

MAX_PAGE = 10_000
# Offset paging TakeOrdered-fetches and discards the prefix on the
# driver (O(offset+limit) per page); past this depth the caller must
# switch to the keyset cursor, which is O(limit) at ANY depth.
MAX_OFFSET = 100_000


def _strictly_after(view, after: tuple):
    """Lexicographic ``row > after`` over ALL sort columns.

    The page sort is ``orderBy(*view.columns)`` (ascending, Spark
    default NULLS FIRST), so the matching strictly-after predicate is
    the full-tuple expansion

        (c1 > a1) OR (c1 = a1 AND c2 > a2) OR ... AND cn > an)

    NULL cursor cells follow the same NULLS FIRST order: a NULL cell
    contributes ``IS NOT NULL`` to its ">" leg (everything non-null
    sorts after null) and ``IS NULL`` to its "=" leg. Cursor values
    may arrive as strings (JSON round trip); each literal is cast to
    its column's type so date/decimal comparisons stay typed.
    """
    cols = view.columns
    if len(after) != len(cols):
        raise ValueError(
            f"keyset cursor must carry all {len(cols)} sort columns "
            f"{cols} (got {len(after)}): a prefix cursor skips ties")
    pred, eq = F.lit(False), F.lit(True)
    for name, a in zip(cols, after):
        c = F.col(name)
        if a is None:
            gt, e = c.isNotNull(), c.isNull()
        else:
            lit = F.lit(a).cast(view.schema[name].dataType)
            gt, e = c > lit, c == lit
        pred = pred | (eq & gt)
        eq = eq & e
    return pred


def paginate(view, limit: int, offset: int = 0, after: tuple | None = None):
    """Bounded, deterministic page of an unbounded view.

    Sorts on ALL view columns (a total order regardless of whether any
    column prefix is a unique key, so pages can never overlap or drop
    rows) and clamps limit to [1, MAX_PAGE]. Two paging modes:

    - offset (default): fetches the first offset+limit rows
      (TakeOrderedAndProject JVM-side) and slices - never a full-view
      collect, so a 100 TB-scale warehouse can't OOM the driver; but a
      deep page re-fetches and discards its prefix on the driver,
      O(offset+limit) per page, so offsets beyond ``MAX_OFFSET`` are
      rejected (ValueError -> 400 at the endpoint).
    - keyset (``after`` = the FULL column tuple of the last row of the
      previous page): filters strictly-after lexicographically on ALL
      sort columns BEFORE the sort+limit - O(limit) per page at any
      depth, the leading comparison prunes at the scan, and because
      the cursor spans the entire total order it can never skip or
      repeat ties even when no column prefix is a unique key. A cursor
      of the wrong width raises ValueError (-> 400).

    Returns (rows, limit, offset)."""
    limit = max(1, min(limit, MAX_PAGE))
    cols = view.columns
    if after is not None:
        page = (view.filter(_strictly_after(view, tuple(after)))
                .orderBy(*cols).limit(limit).collect())
        return page, limit, 0
    offset = max(0, offset)
    if offset > MAX_OFFSET:
        raise ValueError(
            f"offset {offset} exceeds MAX_OFFSET={MAX_OFFSET}; deep "
            "pages must use the keyset cursor (after=<last row tuple>)")
    rows = view.orderBy(*cols).limit(offset + limit).collect()[offset:]
    return rows, limit, offset


def _folded_nulls(probe_df):
    """Per-column null-ness of a fully foldable projection, read off the
    optimized logical plan instead of executing a job.

    ConstantFolding rewrites ``Project [try_cast(lit) ...]`` to
    ``Project [Literal ...]`` during ``optimizedPlan()``, which runs
    entirely on the driver. Returns ``[bool, ...]`` (True = folded to
    NULL), or None when any projection did not fold to a plain Literal
    (caller falls back to executing the one-row probe)."""
    try:
        exprs = probe_df._jdf.queryExecution().optimizedPlan().expressions()
        nulls = []
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if e.getClass().getSimpleName() == "Alias":
                e = e.child()
            if e.getClass().getSimpleName() != "Literal":
                return None
            nulls.append(e.value() is None)
        return nulls
    except Exception:  # py4j internals shifted — use the execute path
        return None


def parse_cursor(view, after: str) -> tuple:
    """Validate and decode a keyset cursor (the ``after`` query param).

    Explicit checks, never ``assert`` (stripped under ``python -O``):
    the JSON must be a list of exactly the view's column count, every
    cell a scalar or null (nested lists/objects would reach F.lit and
    surface as a 500), and every non-null cell must CAST cleanly to its
    column's type — a castable-but-garbage string ("not-a-date" for a
    date column) casts to NULL and would otherwise silently match
    nothing and return empty pages forever. Raises ValueError (-> 400
    at the endpoint)."""
    import json
    cols = view.columns
    shape_msg = ("after must be a JSON list of the previous page's "
                 f"last row, all {len(cols)} columns {cols}")
    try:
        parsed = json.loads(after)
    except ValueError:
        raise ValueError(shape_msg)
    if not isinstance(parsed, list) or len(parsed) != len(cols):
        raise ValueError(shape_msg)
    bad = [cols[i] for i, v in enumerate(parsed)
           if v is not None and not isinstance(v, (str, int, float, bool))]
    if bad:
        raise ValueError("cursor cells must be JSON scalars or null; "
                         f"nested values at {bad}")
    # JSON ints are arbitrary-precision but F.lit is int64: a cell like
    # 10**30 raises Py4JError (NumberFormatException) at lit
    # CONSTRUCTION — not AnalysisException — and would escape the
    # ValueError->400 mapping as an unhandled 500. Bound-check first.
    wide = [cols[i] for i, v in enumerate(parsed)
            if isinstance(v, int) and not isinstance(v, bool)
            and not (-(2 ** 63) <= v < 2 ** 63)]
    if wide:
        raise ValueError("integer cursor cells exceed 64-bit range at "
                         f"{wide}")
    cursor = tuple(parsed)
    # cast probe: try_cast evaluates every cast the keyset predicate
    # would perform (malformed input -> NULL instead of an ANSI runtime
    # error mid-paginate), surfacing garbage cells as a 400 up front;
    # type-impossible casts still raise at ANALYSIS. Only analysis
    # errors map to 400 — a genuine server-side failure (stopped
    # session, executor loss) must propagate as the 500 it is, not be
    # blamed on the client's cursor.
    from pyspark.errors import AnalysisException
    try:
        probe_df = view.sparkSession.range(1).select(
            *[F.lit(v).try_cast(view.schema[c].dataType).alias(f"c{i}")
              for i, (c, v) in enumerate(zip(cols, cursor))])
        # Evaluate WITHOUT a Spark job: every try_cast above is
        # foldable, so the optimizer constant-folds the projection to
        # literals at plan time (driver-side). Reading null-ness off
        # the optimized plan keeps exact Spark cast semantics with zero
        # scheduler round-trips — a per-request one-row job serialized
        # on the shared session was a throughput tax under concurrent
        # paging clients.
        probe = _folded_nulls(probe_df)
        if probe is None:  # plan shape not the expected Project[literals]
            probe = [probe_df.first()[i] is None for i in range(len(cols))]
    except AnalysisException:
        # at select() time, or deferred to the fallback's action time
        raise ValueError("cursor cells are not castable to the view's "
                         f"column types ({cols})")
    uncastable = [cols[i] for i, v in enumerate(cursor)
                  if v is not None and probe[i]]
    if uncastable:
        raise ValueError(
            f"cursor cells cast to NULL for columns {uncastable}; pass "
            "values in the column's own format (e.g. YYYY-MM-DD for "
            "dates)")
    return cursor


def next_cursor(columns, page, limit: int):
    """The ``next`` token for a page: the last row's full column tuple
    (stringified, None preserved) when the page is FULL, else None.
    Emitted for BOTH paging styles so an offset client can switch to
    keyset before MAX_OFFSET bites, without hand-assembling a cursor
    from rows[] in exact column order."""
    if len(page) != limit:
        return None
    last = page[-1]
    return [None if last[c] is None else str(last[c]) for c in columns]


class ApiError(Exception):
    """``ApiError(status, detail)``: an endpoint failure and the HTTP
    status it maps to; the route table's one exception handler turns it
    into the response."""


@contextmanager
def _bad_request(errors=ValueError):
    """Re-raise ``errors`` as a 400 carrying their message."""
    try:
        yield
    except errors as e:
        raise ApiError(400, str(e)) from e


def _page(view, limit: int, offset: int, after: str | None) -> dict:
    """One bounded page of ``view`` as a response body.

    ``after`` (the JSON full-row cursor a previous page returned as
    ``next``) selects keyset paging, O(limit) at any depth; otherwise
    ``offset`` paging, rejected past ``MAX_OFFSET``. EVERY full page
    carries ``next`` (null when the page was short = done), so an
    offset client can switch to keyset before MAX_OFFSET bites. A bad
    cursor or offset is a 400."""
    with _bad_request():
        cursor = None if after is None else parse_cursor(view, after)
        page, limit, offset = paginate(view, limit, offset, after=cursor)
    return {"rows": [r.asDict() for r in page], "limit": limit,
            "offset": offset, "next": next_cursor(view.columns, page, limit)}


class Api:
    """The endpoint bodies as plain methods: each returns the response
    dict or raises :class:`ApiError`, so they run (and are tested)
    without fastapi; :func:`build_app` only routes to them.

    Holds the one SparkSession, the table-backed First100 state and
    the data root. ``data_root`` confines every client-supplied
    filesystem path (csv_path, out_dir, warehouse_dir, sf_dir): paths
    are realpath-resolved and must stay under the root, else 403
    (unauthenticated endpoints must not read or overwrite arbitrary
    host paths). Default root: $SPARK_ETL_DATA_ROOT, else the system
    temp dir."""

    def __init__(self, spark, state_path: str | None = None,
                 data_root: str | None = None):
        self.spark = spark
        self.state = First100(spark, store_path=state_path or os.path.join(
            tempfile.gettempdir(), "first100_state"))
        self.data_root = os.path.realpath(data_root or os.environ.get(
            "SPARK_ETL_DATA_ROOT") or tempfile.gettempdir())

    def _confined(self, client_path: str) -> str:
        p = os.path.realpath(client_path)
        if p != self.data_root and not p.startswith(self.data_root + os.sep):
            raise ApiError(403, f"path outside data root {self.data_root}: "
                                f"{client_path}")
        return p

    def health(self) -> dict:
        return {"status": "ok", "spark_version": self.spark.version}

    def extract(self, number: int) -> dict:
        with _bad_request(ValidationError):  # reference api/main.py:24-25
            return self.state.extract(number)

    def missing(self) -> dict:
        with _bad_request(ValidationError):  # reference api/main.py:32-33
            return {"missing": self.state.missing()}

    def reset(self) -> dict:
        return self.state.reset()

    def etl_run(self, csv_path: str, out_dir: str) -> dict:
        """The reference's batch ETL (etl/03_transform_and_load.py) as an
        on-demand Spark job: clean + quarantine + dim/fact parquet. The
        request is the thread's unit of work ``api.etl_run``: its jobs
        carry that tag, and its cached clean frame is released when the
        request ends, so a long-running service holds none per request
        served."""
        csv_path, out_dir = self._confined(csv_path), self._confined(out_dir)
        if not os.path.exists(csv_path):
            raise ApiError(404, f"no such file: {csv_path}")
        opcache.own(self.spark, "api.etl_run")
        try:
            raw = read_charges_csv(self.spark, csv_path)
            clean, critical = clean_pipeline(raw)
            clean = opcache.cache(clean)
            companies, charges = build_dim_fact(clean)
            counts = {"original": raw.count(), "clean": clean.count(),
                      "critical": critical.count()}
            for name, df in (("clean", clean), ("critical", critical),
                             ("companies", companies), ("charges", charges)):
                atomic_overwrite(df, os.path.join(out_dir, name))
        finally:
            opcache.own(self.spark)
        return {"counts": counts, "out_dir": out_dir}

    def view_daily(self, warehouse_dir: str, date: str | None = None,
                   start: str | None = None, end: str | None = None,
                   limit: int = 1000, offset: int = 0,
                   after: str | None = None) -> dict:
        """The flagship view with the reference's two filter patterns
        (readme.md:156-162): one ``date``, or BETWEEN ``start`` and
        ``end`` (given together); dates are YYYY-MM-DD. Responses are
        paged by :func:`_page` (default page 1000, hard cap
        ``MAX_PAGE``): the view is unbounded in the date-range case and
        an uncapped collect of a 100 TB-scale warehouse would OOM the
        driver."""
        bounds = (date, date) if date else (start, end)  # absent: None or ""
        if any(bounds) and not all(bounds):
            raise ApiError(400, "start and end must be given together")
        # parsed here: under ANSI a malformed date literal fails its cast
        # at collect time, a 500 instead of the client's 400
        with _bad_request():
            days = [datetime.date.fromisoformat(d) for d in bounds if d]
        warehouse_dir = self._confined(warehouse_dir)
        view = daily_company_totals(*(
            self.spark.read.parquet(os.path.join(warehouse_dir, t))
            for t in ("charges", "companies")))
        if days:
            view = view.filter(F.col("transaction_date").between(*days))
        return _page(view, limit, offset, after)

    def catalog_index(self) -> dict:
        """The whole analytics surface, discoverable: every registered
        catalog entry (name + first docstring line), so a client can
        enumerate what the engine can compute."""
        return {"count": len(registry.QUERIES),
                "queries": {n: (fn.__doc__ or "").strip().splitlines()[0]
                            for n, fn in sorted(registry.QUERIES.items())}}

    def catalog_run(self, name: str, sf_dir: str, limit: int = 1000,
                    offset: int = 0, after: str | None = None) -> dict:
        """Run any registered catalog entry against a confined dataset
        directory and return a bounded page - the whole 315-entry
        analytics surface served with the same paging as the flagship
        view (total-order sort, MAX_PAGE cap, offset or keyset cursor,
        never an unbounded collect)."""
        if name not in registry.QUERIES:
            raise ApiError(404, f"no such catalog entry: {name}")
        # the entry is this thread's unit of work until the page is
        # collected; ending it here releases the entry's caches and its
        # job tag, so a reused threadpool thread holds neither
        try:
            df = registry.QUERIES[name](self.spark, self._confined(sf_dir))
            return {"name": name, "columns": df.columns,
                    **_page(df, limit, offset, after)}
        finally:
            opcache.own(self.spark)


def build_app(spark=None, state_path: str | None = None,
              data_root: str | None = None):
    """The route table over one :class:`Api`: each route is one call to
    its method, and one exception handler turns :class:`ApiError` into
    the ``{"detail": ...}`` response an ``HTTPException`` gives. Only
    /extract keeps a pydantic body, so an out-of-range number gets the
    reference's 422 (reference api/main.py:12-13)."""
    if not HAVE_FASTAPI:
        raise RuntimeError("fastapi not installed in this environment")
    if spark is None:
        spark = get_spark("python_etl_rest_api_spark-api")
    api = Api(spark, state_path, data_root)
    app = FastAPI(title="python_etl_rest_api_spark",
                  description="PySpark-native analytics engine - "
                              "Spark jobs orchestrated via REST")

    @app.exception_handler(ApiError)
    async def api_error(request, exc):
        return await http_exception_handler(request, HTTPException(*exc.args))

    @app.post("/extract")
    def extract(req: ExtractRequest):
        return api.extract(req.number)

    for verb, path, method in (
            ("GET", "/health", api.health), ("GET", "/missing", api.missing),
            ("POST", "/reset", api.reset), ("POST", "/etl/run", api.etl_run),
            ("GET", "/view/daily_company_totals", api.view_daily),
            ("GET", "/catalog", api.catalog_index),
            ("GET", "/catalog/{name}", api.catalog_run)):
        app.add_api_route(path, method, methods=[verb])
    return app


def main() -> None:
    """CLI entry (reference api/main.py:41-57): --extract N reports the
    missing number without HTTP."""
    import argparse
    parser = argparse.ArgumentParser(description="First100 CLI")
    parser.add_argument("--extract", type=int, required=True)
    args = parser.parse_args()
    state = First100(get_spark("first100-cli"))
    try:
        state.extract(args.extract)
        print(f"extracted: {args.extract}")
        print(f"missing:   {state.missing()}")
    except ValidationError as e:
        print(f"error: {e}")
        raise SystemExit(1)


if __name__ == "__main__":
    main()
