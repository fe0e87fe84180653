"""Local stand-in for the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares against
oracle_sql() via DuckDB: row count, column names, a TYPED schema
comparison, and an order-insensitive value comparison (exact string repr
after column-name sort). Queries with no oracle get a rows-only smoke run.

The typed comparison exists because the driver's value hash is
TYPE-SENSITIVE in a way cell stringification is blind to: round 5 shipped
a "191/191 clean" stringified sweep into a red driver window because two
oracles used uncast SUM(CASE->1/0), which DuckDB types HUGEINT (int128)
while Spark emits BIGINT.  The failure mechanism is the DuckDB->pandas
conversion: int128 doesn't fit int64, so pandas widens to float64 and the
hashed cells become '123.0' vs '123'.  That mechanism defines the
equivalence classes below: all of {i8,i16,i32,i64} hash identically
(exact ints, same repr), while int-vs-float, float32-vs-float64,
int128-anywhere, and DECIMAL-anywhere are fatal and fail the sweep.
DECIMAL finals are fatal even when both sides agree on type and scale:
round 7 proved the driver's DuckDB->pandas conversion renders ALL
decimals (precision 15-38) as float64, so Spark's exact Decimal repr
('1626024750') never matches pandas' ('1626024750.0') — invisible to
fetchall(), which yields exact Decimals on both sides.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_DUCK_SCALAR = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int",
    "BIGINT": "int", "UTINYINT": "int", "USMALLINT": "int",
    "UINTEGER": "int", "UBIGINT": "int",
    "HUGEINT": "int128", "UHUGEINT": "int128",
    "FLOAT": "f32", "DOUBLE": "f64", "VARCHAR": "str",
    "BOOLEAN": "bool", "DATE": "date", "BLOB": "bin",
    "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "TIMESTAMP_MS": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
}
_SPARK_SCALAR = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "binary": "bin", "timestamp": "ts",
    "timestamp_ntz": "ts", "void": "null",
}


def _canon_duck(t: str) -> str:
    """DuckDB type string -> driver-hash equivalence class."""
    t = str(t).strip()
    if t.endswith("[]"):
        return f"list<{_canon_duck(t[:-2])}>"
    m = re.match(r"DECIMAL\((\d+),\s*(\d+)\)", t)
    if m:
        return f"dec(s={m.group(2)})"   # scale is hash-visible, precision not
    if t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    return _DUCK_SCALAR.get(t, t)


def _canon_spark(t: str) -> str:
    """Spark dtype string -> driver-hash equivalence class."""
    t = t.strip()
    m = re.match(r"array<(.*)>$", t)
    if m:
        return f"list<{_canon_spark(m.group(1))}>"
    m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
    if m:
        return f"dec(s={m.group(2)})"
    if t.startswith("struct") or t.startswith("map"):
        return "nested"
    return _SPARK_SCALAR.get(t, t)


def typed_diffs(scols, sdtypes, dcols, dtypes):
    """Return [(col, spark_class, duck_class)] hash-fatal divergences:
    any class mismatch, any int128 (HUGEINT) column, and any
    DECIMAL-typed final column EVEN IF both sides agree — the driver's
    DuckDB->pandas conversion renders every DECIMAL as float64
    ('1626024750.0') while Spark publishes exact Decimal
    ('1626024750'), so same-scale decimal finals hash-mismatch at the
    driver despite comparing equal under fetchall() here (the r7
    stats_chi2_independence red). House convention: finals are
    BIGINT/DOUBLE/VARCHAR/date/bool only; decimals stay internal."""
    smap = {c: _canon_spark(t) for c, t in zip(scols, sdtypes)}
    dmap = {c: _canon_duck(t) for c, t in zip(dcols, dtypes)}
    out = []
    for c in smap:
        if c not in dmap:
            continue
        a, b = smap[c], dmap[c]
        if (a != b or "int128" in b or "int128" in a
                or "dec(" in a or "dec(" in b):
            out.append((c, a, b))
    return out


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    import duckdb

    import __spark_entry__ as e
    from python_etl_rest_api_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
            sdtypes = [t for _, t in sdf.dtypes]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, "
                  f"{t_spark:.1f}s)")
            continue
        t1 = time.time()
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        t_duck = time.time() - t1
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        dc, dr = norm_rows(dcols, drows)
        tdiffs = typed_diffs(scols, sdtypes, dcols, dtypes)
        if tdiffs:
            failures.append(name)
            print(f"FAIL  {name}: TYPED divergence (driver-hash-fatal): "
                  + ", ".join(f"{c}: spark={a} duck={b}"
                              for c, a, b in tdiffs))
        elif sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sc} duck={dc}")
        elif len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(dr)}")
        elif sr != dr:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diffs}")
        else:
            print(f"OK    {name}: {len(sr)} rows "
                  f"(spark {t_spark:.1f}s, duck {t_duck:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
