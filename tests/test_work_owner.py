"""One owner per thread for operator caches and Spark job tags
(``opcache.own``): every job a catalog entry or a REST request runs
carries its name as a job tag, a unit's caches live until the unit
ends, and the package keeps a single lifetime mechanism."""

import os
import pathlib
import threading
import uuid

import pytest
from conftest import ROOT, SF_DIR
from test_api_handlers import HEADER, _clean_rows

import bench
from python_etl_rest_api_spark import opcache, registry
from python_etl_rest_api_spark.api.app import Api
from python_etl_rest_api_spark.operators import dedup

PACKAGE = pathlib.Path(ROOT) / "python_etl_rest_api_spark"


def _settle(spark) -> None:
    # job status arrives through the asynchronous listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _group_jobs(spark, fn) -> set:
    """Ids of the jobs ``fn`` submitted, counted under a job group of
    its own."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _settle(spark)
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _marker(spark) -> int:
    """The id of a one-job marker run now."""
    (job,) = _group_jobs(spark, spark.sparkContext.parallelize([0], 1).count)
    return job


def _all_jobs(spark, fn) -> set:
    """Ids of EVERY job that ran while ``fn`` did, also jobs outside its
    job group (a streaming query sets a group of its own): job ids are
    sequential, and nothing else runs on the session meanwhile, so they
    are the ids between two markers. The ones under fn's group must be
    among them, and there must be some."""
    first = _marker(spark)
    grouped = _group_jobs(spark, fn)
    last = _marker(spark)
    jobs = set(range(first + 1, last))
    assert grouped and grouped <= jobs
    return jobs


def _tagged(spark, tag: str) -> set:
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    return set(tracker.getJobIdsForTag(tag))


def _persisted(spark) -> set:
    """Ids of the persisted RDDs. Spark holds them by weak reference, so
    an unrelated one may drop out between two reads: a request leaves
    nothing behind when no id appears, not when the count is equal."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_headline_jobs_carry_the_entry_tag(spark, name):
    """Every job of the entry - the build and its noop write, which runs
    after the entry returned its lazy frame - carries the tag ``name``."""
    opcache.own(spark)

    def run():
        registry.QUERIES[name](spark, SF_DIR).write.format("noop") \
            .mode("overwrite").save()

    jobs = _all_jobs(spark, run)
    try:
        assert jobs <= _tagged(spark, name), sorted(jobs - _tagged(spark, name))
        assert set(spark.sparkContext.getJobTags()) == {name}
    finally:
        opcache.own(spark)
    assert set(spark.sparkContext.getJobTags()) == set()


def test_second_caching_operator_keeps_the_first_cache(spark):
    """Inside one unit, a second caching operator leaves the first one's
    cache resident; ending the unit unpersists both."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    opcache.own(spark)
    opcache.own(spark, "t")
    try:
        shingled = dedup.shingle_cache(docs)
        shingled.count()
        dedup.simhash_near_dups(docs).count()
        assert shingled.storageLevel.useMemory
        cached = list(opcache._LOCAL.cached)
        assert len(cached) == 2
        assert all(df.storageLevel.useMemory for df in cached)
    finally:
        opcache.own(spark)
    assert not any(df.storageLevel.useMemory for df in cached)


def test_repeat_call_starts_a_fresh_unit(spark):
    """Owning the current unit's name again releases the unit's caches
    and keeps the tag, like any other new unit."""
    df = spark.range(64).selectExpr("id AS k")
    opcache.own(spark, "t")
    try:
        opcache.cache(df).count()
        assert df.storageLevel.useMemory
        opcache.own(spark, "t")
        assert not df.storageLevel.useMemory
        assert set(spark.sparkContext.getJobTags()) == {"t"}
    finally:
        opcache.own(spark)


def test_release_all_ends_the_unit(spark):
    """release_all() ends the unit as own(spark) does: after a catalog
    entry is paged and released, the thread holds no tag, and its later
    jobs do not carry the entry's name."""
    name = "h1_daily_totals"
    opcache.own(spark)
    registry.QUERIES_RAW[name](spark, SF_DIR).limit(5).collect()
    assert set(spark.sparkContext.getJobTags()) == {name}
    opcache.release_all()
    assert set(spark.sparkContext.getJobTags()) == set()
    later = _group_jobs(spark, spark.range(3).count)
    assert later and not later & _tagged(spark, name)


@pytest.fixture(scope="module")
def etl_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("owner_root")
    with open(root / "charges.csv", "w") as f:
        f.write(HEADER)
        f.writelines(",".join(r) + "\n" for r in _clean_rows())
    return root


@pytest.mark.parametrize("request_name", ["catalog_run", "etl_run"])
def test_rest_request_tags_its_jobs_and_releases(spark, etl_root,
                                                 request_name):
    """A request's jobs carry its name; afterwards the thread holds no
    job tag and no persisted RDD the request made."""
    if request_name == "catalog_run":
        api = Api(spark, state_path=str(etl_root / "f100c"),
                  data_root=os.path.dirname(SF_DIR))
        tag = "dedup_simhash"

        def call():
            assert api.catalog_run(tag, SF_DIR, limit=10)["rows"]
    else:
        api = Api(spark, state_path=str(etl_root / "f100"),
                  data_root=str(etl_root))
        tag = "api.etl_run"

        def call():
            out = api.etl_run(str(etl_root / "charges.csv"),
                              str(etl_root / "wh"))
            assert out["counts"]["clean"] == 60

    opcache.own(spark)
    before = _persisted(spark)
    jobs = _all_jobs(spark, call)
    assert jobs <= _tagged(spark, tag), sorted(jobs - _tagged(spark, tag))
    assert set(spark.sparkContext.getJobTags()) == set()
    assert _persisted(spark) <= before


def test_concurrent_entries_tag_only_their_own_jobs(spark):
    """Two threads running different entries at the same time: each
    thread's jobs carry its own entry's tag and never the other's."""
    names = ("h1_daily_totals", "q5_local_supplier_volume")
    jobs: dict[str, set] = {}
    errs = []
    barrier = threading.Barrier(len(names))

    def worker(name):
        try:
            def run():
                df = registry.QUERIES[name](spark, SF_DIR)
                barrier.wait(60)
                df.write.format("noop").mode("overwrite").save()
            jobs[name] = _group_jobs(spark, run)
            opcache.own(spark)
        except BaseException as e:  # noqa: BLE001 - surface to main thread
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    a, b = names
    assert jobs[a] and jobs[a] <= _tagged(spark, a)
    assert jobs[b] and jobs[b] <= _tagged(spark, b)
    assert not jobs[a] & _tagged(spark, b)
    assert not jobs[b] & _tagged(spark, a)


def test_one_lifetime_mechanism():
    """The package releases caches only through opcache: no other module
    calls release_all, and no second registry or janitor comes back."""
    sources = {p.relative_to(PACKAGE).as_posix(): p.read_text()
               for p in PACKAGE.rglob("*.py")}
    assert [p for p, s in sources.items() if "release_all" in s] \
        == ["opcache.py"]
    for gone in ("_ACTIVE", "_release_prior_cache", "cache_staged"):
        assert not [p for p, s in sources.items() if gone in s], gone
    assert registry.QUERIES_RAW is registry.QUERIES
