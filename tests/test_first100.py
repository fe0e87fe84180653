"""First100 set engine: the reference's documented API error cases
(reference readme.md:179-196) against the table-backed implementation."""

import pytest

from python_etl_rest_api_spark.operators.first100 import First100, ValidationError


@pytest.fixture()
def f100(spark):
    return First100(spark)


def test_extract_and_missing(f100):
    out = f100.extract(57)
    assert out == {"extracted": 57, "remaining_count": 99}
    assert f100.missing() == 57          # Gauss closed form
    assert f100.missing_via_set() == [57]  # alternate impl agrees


def test_extract_out_of_range_400(f100):
    with pytest.raises(ValidationError):
        f100.extract(0)
    with pytest.raises(ValidationError):
        f100.extract(101)
    with pytest.raises(ValidationError):
        f100.extract("57")
    with pytest.raises(ValidationError):
        f100.extract(True)   # bool is not a number here


def test_duplicate_extract_400(f100):
    f100.extract(10)
    with pytest.raises(ValidationError):
        f100.extract(10)


def test_missing_requires_exactly_one(f100):
    with pytest.raises(ValidationError):
        f100.missing()       # zero extracted
    f100.extract(1)
    f100.extract(2)
    with pytest.raises(ValidationError):
        f100.missing()       # two extracted
    assert f100.missing_via_set() == [1, 2]   # alternate impl has no precondition


def test_reset(f100):
    f100.extract(5)
    out = f100.reset()
    assert out["remaining_count"] == 100
    assert f100.remaining_df().count() == 100


def test_state_persists_across_instances(spark, tmp_path):
    path = str(tmp_path / "state")
    a = First100(spark, store_path=path)
    a.extract(42)
    b = First100(spark, store_path=path)   # fresh "worker"
    assert b.missing() == 42
    with pytest.raises(ValidationError):
        b.extract(42)                       # duplicate across workers


def test_concurrent_duplicate_adjudication(spark, tmp_path):
    """Two workers racing on the same number: appends are never clobbered
    and exactly one claim wins (read-after-write, smaller token)."""
    path = str(tmp_path / "race")
    a = First100(spark, store_path=path)
    b = First100(spark, store_path=path)
    a.extract(7)
    with pytest.raises(ValidationError):
        b.extract(7)          # b re-reads the store and sees a's claim
    # simulate the worst case: both wrote before either adjudicated
    b._append(7, "99999999999999999999-0")   # later token -> loser
    assert sorted({n for n, _ in a._read_store()}) == [7]
    assert a.missing() == 7   # duplicate claims collapse to one extraction


def test_writes_not_clobbered_across_workers(spark, tmp_path):
    path = str(tmp_path / "clobber")
    a = First100(spark, store_path=path)
    b = First100(spark, store_path=path)
    a.extract(10)
    b.extract(20)             # b must not wipe a's write
    c = First100(spark, store_path=path)
    assert c.missing_via_set() == [10, 20]
    a.reset()
    assert b.missing_via_set() == []


def test_constructor_bounds_state_size(spark):
    """The collect-per-operation store recipe is only valid because
    state is <= n rows by construction; n beyond MAX_N must be refused
    at construction (round-6 verdict directive)."""
    import pytest
    from python_etl_rest_api_spark.operators.first100 import MAX_N
    with pytest.raises(ValidationError, match="shuffled store"):
        First100(spark, n=MAX_N + 1)
    with pytest.raises(ValidationError):
        First100(spark, n=0)
    assert First100(spark, n=MAX_N).n == MAX_N


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn submitted), counted under a
    job group of its own."""
    import uuid
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job status arrives through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_store_read_per_check(spark, tmp_path):
    """reset / extract / missing submit 1 / 3 / 1 jobs: the store is read
    with its declared schema (no inference job), the rows written are
    LocalRelations (no Python-worker job), extract adjudicates from its
    single read-after-write and missing answers from the set it read."""
    f = First100(spark, store_path=str(tmp_path / "jobs"))
    for k in (31, 64):
        assert _jobs(spark, f.reset) == (
            {"status": "reset", "remaining_count": 100}, 1)
        assert _jobs(spark, lambda: f.extract(k)) == (
            {"extracted": k, "remaining_count": 99}, 3)
        assert _jobs(spark, f.missing) == (k, 1)


def test_broken_store_raises(spark, tmp_path):
    """Only a missing store path reads as the empty set; a corrupt file
    must fail the request instead of silently resetting the set."""
    path = tmp_path / "broken"
    f = First100(spark, store_path=str(path))
    assert f._read_store() == []          # absent path: empty store
    f.extract(3)
    (path / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as info:
        f.extract(5)
    assert not isinstance(info.value, ValidationError)


def test_legacy_token_less_rows(spark, tmp_path):
    """A store file written with only an ``n`` column reads back as
    token='', wins adjudication against a later tokened claim, and is
    what missing() returns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "legacy"

    def write_legacy():
        path.mkdir(exist_ok=True)
        pq.write_table(pa.table({"n": pa.array([7], pa.int64())}),
                       str(path / "part-legacy.parquet"))

    # b's first read sees an empty store; the legacy row lands before
    # b's own append, so only the read-after-write can reject b's claim
    b = First100(spark, store_path=str(path))
    append = b._append
    b._append = lambda number, token: (write_legacy(), append(number, token))
    with pytest.raises(ValidationError, match="already extracted"):
        b.extract(7)
    a = First100(spark, store_path=str(path))
    tokens = sorted(t for n, t in a._read_store() if n == 7)
    assert len(tokens) == 2 and tokens[0] == ""   # legacy row, b's claim
    assert a.missing() == 7
    assert a.missing_via_set() == [7]
