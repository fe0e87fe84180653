"""One owner per thread for operator caches and the thread's Spark job tag.

The rule: each thread does one unit of work at a time. ``own(spark,
name)`` ends the calling thread's current unit and starts the unit
``name``: it unpersists every cache the thread registered with
:func:`cache` and moves the thread's Spark job tag from the old name to
the new one, so every job the unit runs - including the ones its lazy
frames run at the caller's collect - carries the unit's name
(``spark.job.tags`` in the event log). ``own(spark)`` with no name, or
:func:`release_all`, ends the unit: the caches are unpersisted and the
tag is removed, so later jobs on the thread carry none.

Owners: every catalog entry (``catalog.query``), each REST request that
caches (``api.app.Api``), and the bench's amortized sections. Caches
registered inside one unit all live until the unit ends, so a second
caching operator never drops the first one's cache. An operator called
outside any unit (e.g. ``dedup.simhash_near_dups`` from a script) keeps
its caches until the thread's next unit, so a caller that loops over
batches that way should end each batch with ``own(spark)``. Releasing is
always safe: unpersist never breaks lineage, a stale lazy frame
recomputes.

Why it matters: long-lived sessions (the 315-entry oracle sweep, the
bench loop, a REST service) would otherwise accumulate every
invocation's cache until storage eviction, and the lingering memory
pressure taxes every later query (measured at the 100x bench point:
dedup_minhash_lsh 12.7 s solo vs 15.1 s in-suite with prior entries'
caches resident).

The registry is ``threading.local`` and Spark job tags are per-thread
local properties, so a thread can never unpersist or retag another
thread's in-flight work (the REST API serves requests from a
threadpool). A thread that dies without ending its unit would strand
its caches, so every per-thread registry is also tracked in a global
map (the list held strongly, the owner Thread by weakref - a liveness
probe only), and :func:`cache` and :func:`release_all` drain the
registries of threads that are no longer alive.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

_LOCAL = threading.local()

# id(thread) -> (weakref to the owner Thread, that thread's registry
# list). Guarded by _REG_LOCK. The list is held strongly, so a Thread
# object collected before any reap still gets its caches drained; an
# entry is removed only after its list is drained. id() reuse cannot
# alias a live registry: _register() drains any stale entry (dead or
# collected owner) before overwriting the slot.
_REGISTRIES: dict[int, tuple["weakref.ref[threading.Thread]", list]] = {}
_REG_LOCK = threading.Lock()


def _register(lst: list) -> None:
    t = threading.current_thread()
    with _REG_LOCK:
        stale = _REGISTRIES.get(id(t))
        _REGISTRIES[id(t)] = (weakref.ref(t), lst)
    if stale is not None and stale[1] is not lst:
        _drain(stale[1])


def _cached() -> list[DataFrame]:
    lst = getattr(_LOCAL, "cached", None)
    if lst is None:
        lst = _LOCAL.cached = []
        _register(lst)
    return lst


def _drain(lst: list) -> None:
    while lst:
        try:
            lst.pop().unpersist()
        except Exception:
            pass


def _reap_dead_threads() -> None:
    """Unpersist caches stranded by threads that exited (or whose
    Thread object was collected) without ending their unit. Only such
    threads' registries are touched — the owner cannot race us — and
    each entry is dropped only after its list is drained."""
    with _REG_LOCK:
        dead = [(key, lst) for key, (ref, lst) in _REGISTRIES.items()
                if (t := ref()) is None or not t.is_alive()]
    for key, lst in dead:
        _drain(lst)
        with _REG_LOCK:
            # re-check under the lock: id() reuse may have re-bound the
            # slot to a new live thread while we drained
            cur = _REGISTRIES.get(key)
            if cur is not None and cur[1] is lst:
                del _REGISTRIES[key]


def cache(df: DataFrame) -> DataFrame:
    """Cache ``df`` and register it on THIS thread's registry, so the
    thread's unit owns it. Also reaps registries stranded by dead
    threads."""
    _reap_dead_threads()
    _cached().append(df)
    return df.cache()


def release_all() -> None:
    """End the CALLING thread's unit of work: unpersist every cache it
    registered and remove its job tag (idempotent, exception-safe - a
    cache or tag whose session already stopped just drops). Other LIVE
    threads' registries and tags are untouched; registries stranded by
    DEAD threads are reaped.

    A thread that never cached anything allocates nothing here: going
    through _cached() would insert an empty registry slot for every
    transient caller thread (reaped only after the thread dies), so the
    no-op path reads the thread-local directly."""
    lst = getattr(_LOCAL, "cached", None)
    if lst is not None:
        _drain(lst)
    unit = getattr(_LOCAL, "unit", None)
    if unit is not None:
        _LOCAL.unit = None
        sc, name = unit
        try:
            sc.removeJobTag(name)
        except Exception:
            pass
    _reap_dead_threads()


def own(spark, name: str | None = None) -> None:
    """End the calling thread's current unit of work (release_all) and,
    when ``name`` is given, start the unit ``name``: the thread's jobs
    carry the Spark job tag ``name`` until its next unit or the end of
    this one."""
    release_all()
    if name is not None:
        sc = spark.sparkContext
        sc.addJobTag(name)
        _LOCAL.unit = (sc, name)
