"""Regression tests for the typed oracle comparison in
tools/check_oracle.py.

Round 5 went driver-red on two entries whose oracles used uncast
SUM(CASE->1/0): DuckDB types that HUGEINT (int128), pandas widens it to
float64, and the driver's type-sensitive value hash diverges while a
stringified cell comparison stays blind.  These tests pin the checker's
equivalence classes so that exact failure class (and its neighbors:
int-vs-float, float32-vs-float64, decimal-scale drift) can never again
pass a local sweep.
"""

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import _canon_duck, _canon_spark, typed_diffs  # noqa: E402


def _duck_types(sql):
    rel = duckdb.connect().sql(sql)
    return list(rel.columns), [str(t) for t in rel.types]


def test_uncast_sum_case_is_flagged():
    # The literal r5 failure: oracle SUM(CASE .. 1/0) vs Spark BIGINT.
    cols, types = _duck_types(
        "SELECT SUM(CASE WHEN x > 1 THEN 1 ELSE 0 END) AS c "
        "FROM (VALUES (1),(2)) t(x)")
    assert types == ["HUGEINT"]
    diffs = typed_diffs(["c"], ["bigint"], cols, types)
    assert diffs == [("c", "int", "int128")]


def test_cast_sum_case_passes():
    cols, types = _duck_types(
        "SELECT CAST(SUM(CASE WHEN x > 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS c FROM (VALUES (1),(2)) t(x)")
    assert types == ["BIGINT"]
    assert typed_diffs(["c"], ["bigint"], cols, types) == []


def test_int_width_is_equivalent():
    # pandas reprs int32 and int64 cells identically -> same hash.
    assert typed_diffs(["a", "b"], ["int", "bigint"],
                       ["a", "b"], ["BIGINT", "INTEGER"]) == []


@pytest.mark.parametrize("spark_t,duck_t", [
    ("bigint", "DOUBLE"),          # int vs float: '1' vs '1.0'
    ("double", "FLOAT"),           # f64 vs f32: repr drift
    ("decimal(18,2)", "DECIMAL(18,3)"),   # scale is hash-visible
    ("string", "BIGINT"),
])
def test_fatal_divergences(spark_t, duck_t):
    assert typed_diffs(["c"], [spark_t], ["c"], [duck_t])


def test_decimal_final_fatal_even_when_both_sides_agree():
    # The literal r7 failure (stats_chi2_independence): both engines
    # published DECIMAL(38,0) and fetchall() compared exact Decimals
    # equal, but the DRIVER converts DuckDB results via pandas, which
    # renders every decimal as float64 ('1626024750.0') against
    # Spark's exact Decimal repr ('1626024750') -> hash red.  Any
    # decimal-typed FINAL column must fail the local sweep, matching
    # scale or not.
    assert typed_diffs(["c"], ["decimal(38,0)"],
                       ["c"], ["DECIMAL(38,0)"]) == [
        ("c", "dec(s=0)", "dec(s=0)")]
    assert typed_diffs(["c"], ["decimal(38,2)"],
                       ["c"], ["DECIMAL(18,2)"]) == [
        ("c", "dec(s=2)", "dec(s=2)")]


def test_driver_pandas_path_renders_decimal_as_float64():
    # Pin the driver-side mechanism the rule above guards against.
    con = duckdb.connect()   # keep alive: .df() needs a live connection
    df = con.sql("SELECT CAST(1626024750 AS DECIMAL(38,0)) AS c").df()
    assert str(df["c"].dtype) == "float64"
    assert repr(df["c"].iloc[0]) != "1626024750"   # it is 1626024750.0


def test_list_types_recurse():
    assert typed_diffs(["l"], ["array<bigint>"],
                       ["l"], ["INTEGER[]"]) == []
    assert typed_diffs(["l"], ["array<double>"],
                       ["l"], ["INTEGER[]"]) == [
        ("l", "list<f64>", "list<int>")]


def test_canon_maps_cover_core_types():
    assert _canon_duck("TIMESTAMP") == _canon_spark("timestamp") == "ts"
    assert _canon_duck("VARCHAR") == _canon_spark("string") == "str"
    assert _canon_duck("BLOB") == _canon_spark("binary") == "bin"
    assert _canon_duck("DATE") == _canon_spark("date") == "date"
