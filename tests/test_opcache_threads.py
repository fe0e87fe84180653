"""Concurrency contract of the opcache janitor (r9 verdict item 4 /
r9 ADVICE medium): the cache registry is threading.local, so a thread
starting a new catalog entry (or an operator releasing at its own
start) can never unpersist ANOTHER thread's in-flight cache, and the
REST catalog endpoint's per-request drain only touches the caches the
request itself registered."""

import os
import threading

from pyspark.sql import functions as F

from python_etl_rest_api_spark import opcache
from python_etl_rest_api_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_release_all_is_thread_scoped(spark):
    """A release_all() on thread B must leave thread A's registered
    cache resident (and A's own release must still drain it)."""
    df = spark.range(100).select(F.col("id").alias("k"))
    opcache.cache(df)
    df.count()  # materialize into the cache
    assert df.storageLevel.useMemory

    def other_thread_release():
        # registers nothing on this thread, then drains ITS registry
        opcache.release_all()

    t = threading.Thread(target=other_thread_release)
    t.start()
    t.join()
    # B's drain ran; A's cache must survive
    assert df.storageLevel.useMemory

    opcache.release_all()  # A drains its own
    assert not df.storageLevel.useMemory


def test_interleaved_entries_keep_foreign_caches(spark):
    """Two threads interleaving DIFFERENT caching catalog entries: the
    entry-boundary janitor fires per-thread, so thread A's operator
    cache (registered mid-entry) stays resident while thread B enters
    and leaves a different entry. Uses a barrier so B's entry START
    (the release point) lands strictly between A's cache registration
    and A's use of it."""
    a_cached = spark.range(50).select(F.col("id").alias("v"))
    errs = []
    b_may_start = threading.Event()
    b_done = threading.Event()

    def thread_a():
        try:
            # simulate an in-flight operator: register + materialize
            opcache.cache(a_cached)
            a_cached.count()
            assert a_cached.storageLevel.useMemory
            b_may_start.set()
            assert b_done.wait(120), "thread B never finished"
            # B ran a full (different) caching entry meanwhile; A's
            # in-flight cache must still be resident
            assert a_cached.storageLevel.useMemory, \
                "thread B's entry boundary drained thread A's cache"
            opcache.release_all()
        except BaseException as e:  # noqa: BLE001 - surface to main thread
            errs.append(e)
            b_may_start.set()

    def thread_b():
        try:
            assert b_may_start.wait(120)
            # a real caching entry (minhash LSH registers 2 caches) via
            # the WRAPPED registry - the janitor path under test
            QUERIES["dedup_minhash_lsh"](spark, SF_DIR).count()
            # drain b's own caches so the test leaves nothing resident
            opcache.release_all()
        except BaseException as e:  # noqa: BLE001
            errs.append(e)
        finally:
            b_done.set()

    ta = threading.Thread(target=thread_a)
    tb = threading.Thread(target=thread_b)
    ta.start()
    tb.start()
    ta.join()
    tb.join()
    assert not errs, errs
    assert not a_cached.storageLevel.useMemory  # A's own drain worked


def test_dedup_entry_races_rest_raw_request(spark):
    """The ADVICE-medium scenario verbatim: thread A is mid-flight in a
    caching DEDUP entry (operator cache registered, not yet released)
    while thread B serves a REST request for another caching entry
    through the /catalog/{name} endpoint body, ``Api.catalog_run``,
    which runs the QUERIES_RAW callable, pages, and drains ITS OWN
    caches in a finally. B's per-request drain must not evict A's
    in-flight cache."""
    from python_etl_rest_api_spark.api.app import Api
    from python_etl_rest_api_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    errs = []
    b_may_start = threading.Event()
    b_done = threading.Event()

    def thread_a():
        try:
            # mid-entry state of a dedup operator: candidate pairs
            # computed, shingle cache registered and resident, verify
            # leg not yet run
            cand, shingled = dedup.minhash_candidate_pairs(docs)
            shingled.count()
            assert shingled.storageLevel.useMemory
            b_may_start.set()
            assert b_done.wait(120), "REST thread never finished"
            assert shingled.storageLevel.useMemory, \
                "REST per-request drain evicted the dedup entry's cache"
            # finish the entry with the still-resident cache
            assert cand.count() >= 0
            opcache.release_all()
        except BaseException as e:  # noqa: BLE001
            errs.append(e)
            b_may_start.set()

    def thread_b():
        try:
            assert b_may_start.wait(120)
            Api(spark, data_root=os.path.dirname(SF_DIR)).catalog_run(
                "dedup_simhash", SF_DIR, limit=10)
        except BaseException as e:  # noqa: BLE001
            errs.append(e)
        finally:
            b_done.set()

    ta = threading.Thread(target=thread_a)
    tb = threading.Thread(target=thread_b)
    ta.start()
    tb.start()
    ta.join()
    tb.join()
    assert not errs, errs


def test_dead_thread_caches_are_reaped(spark):
    """A worker thread that exits WITHOUT reaching a release point must
    not strand its caches forever: the next cache()/release_all() on
    any thread reaps dead threads' registries (live threads are never
    touched — that's the two tests above)."""
    df = spark.range(64).select(F.col("id").alias("k"))

    def worker():
        opcache.cache(df)
        df.count()

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert df.storageLevel.useMemory  # stranded by the dead worker
    opcache.release_all()             # main thread's hygiene point
    assert not df.storageLevel.useMemory
