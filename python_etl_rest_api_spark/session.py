"""SparkSession construction and engine-wide conventions.

Conventions (SURVEY.md section 7.3):
- coercion never throws: use ``try_*`` functions / ``try_cast`` everywhere a
  lenient pandas-style coercion-to-null is expected, so the engine behaves
  identically whether or not ``spark.sql.ansi.enabled`` is on.
- money arithmetic goes through DecimalType (exact, order-independent sums)
  and is cast to double only at the output boundary, so results are
  reproducible across partitionings and engines.
- AQE on: runtime re-planning (skew joins, partition coalescing) is the
  scale posture for the 100 TB target.
- the SQL confs behind these conventions live in RUNTIME_CONF only, and
  only get_spark and the catalog registry callables apply them.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# the directory that holds this package: what a Python worker needs on
# its path to import it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The engine's SQL conventions - the ONE list of them. get_spark builds
# its session with them, and every catalog registry callable (QUERIES)
# re-applies them via tune() before it runs its entry, so a
# session someone else built (e.g. the verification driver's) gets them
# too. Operators, loaders and the decorated catalog symbols assume a
# session that already has them and never set confs themselves: a query
# that wrote session conf would make later requests depend on which one
# ran first. All of these are runtime-mutable.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # a TIMESTAMP(NANOS) parquet column loads as long (instead of failing
    # the scan); sources.tables.with_event_ts converts it. A no-op for
    # the TIMESTAMP(MICROS) encoding the testdata uses.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}
# NOT tuned here: spark.sql.files.openCostInBytes. Lowering it raises
# the REPORTED split count (a 34 MB table goes 10 -> 32 "splits"), but
# parquet splits cannot cross row-group boundaries, so a 2-file /
# 1-row-group-each table still runs 2 real tasks - and the inflated
# count fooled widen_scan's gate into skipping its repartition
# (measured: dedup_minhash_lsh 18.5s -> 85s at the 100x point).
# widen_scan now measures row groups directly; see _scan_shape.


def tune(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONF to an existing session (idempotent). Called by
    get_spark and by the catalog registry callables only."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static on some deployments; keep going
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """A DataFrame over ``rows`` (tuples in ``schema`` field order) held
    in the driver, planned as a ``LocalRelation``.

    ``createDataFrame(<list>, schema)`` makes a parallelized pickle RDD
    plus ``applySchemaToPythonRDD``, so every action on the frame starts
    Python workers (measured, Spark 4.1, local[4]: a 1-row append
    ~1.1 s, a 1-row collect ~1.0 s). An Arrow table becomes a
    LocalRelation that the JVM scans itself (the same append ~0.15 s),
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says.
    ``schema`` is a StructType or a DDL string; the result has exactly
    that schema, nullability included. Timestamp cells follow Arrow's
    rule: a naive ``datetime`` is read as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type)
         for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


_SCRATCH_LOCK = threading.RLock()
_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """This process's scratch root: the one directory the package keeps
    scratch copies under, made on first use and removed at interpreter
    exit.

    It comes from ``tempfile.mkdtemp`` (under ``TMPDIR``), so it is mode
    0700 with an unpredictable name. That is what closes the multi-user
    /tmp hazards: any deterministic name, even one embedding uid and
    pid, is enumerable and can be pre-created (symlink planting), and a
    ``mode("overwrite")`` write is delete-then-rewrite, not atomic for a
    concurrent reader of a shared path. Names inside the root may be
    deterministic, because no other user can enter it."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return _SCRATCH_ROOT


def _signature(inputs) -> str:
    """Hash of the sorted (input, relpath, size, mtime_ns) of the files
    under ``inputs``: an input rewritten in place gets a new hash."""
    stats = []
    for top in map(os.path.abspath, inputs):
        files = [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
        for path in files or [top]:
            if os.path.isfile(path):
                st = os.stat(path)
                stats.append((top, os.path.relpath(path, top),
                              st.st_size, st.st_mtime_ns))
    return hashlib.sha256(repr(sorted(stats)).encode()).hexdigest()[:16]


def scratch_dir(prefix: str, build, inputs=()) -> str:
    """The scratch directory ``build`` fills from ``inputs``, built once
    per process and reused.

    The directory is ``<scratch_root()>/<prefix><signature of inputs>``,
    so an entry that rewrites the same bytes for the same input writes
    them once, and an input rewritten in place (a client replacing an
    ``sf_dir`` under the REST data root) gets a fresh copy, never a
    stale one. The first caller runs ``build(staging)`` on an empty
    directory under the scratch lock and renames staging into place; a
    build that raises leaves nothing, and the next call builds again.
    Later callers get the path without writing or waiting."""
    final = os.path.join(scratch_root(), prefix + _signature(inputs))
    if os.path.isdir(final):
        return final
    with _SCRATCH_LOCK:
        if not os.path.isdir(final):
            staging = final + ".staging"
            os.mkdir(staging)
            try:
                build(staging)
                os.rename(staging, final)
            except BaseException:
                shutil.rmtree(staging, ignore_errors=True)
                raise
    return final


def no_pushdown_barrier(df):
    """Pin downstream filters ABOVE the node below this point.

    An always-true non-deterministic filter: Catalyst cannot push a
    predicate below a non-deterministic filter, so filters added later
    stay above whatever sits under the barrier (e.g. widen_scan's
    repartition exchange - that is this helper's one job).

    What it does NOT do (measured, Spark 4.1): stop expression
    SUBSTITUTION. The barrier references no columns, so Catalyst legally
    sinks the barrier itself below every deterministic projection; a
    downstream filter over a derived column is then still pushed through
    the projections - full derivation chain re-inlined into its
    condition - until it meets the sunk barrier. To pin a filter above
    the projection that computes its column, make the COLUMN's defining
    expression non-deterministic instead (AND an always-true
    ``monotonically_increasing_id() >= -1`` guard into it - see
    operators/clean.py::flag_critical): a filter cannot be pushed
    through a projection containing a non-deterministic expression.

    The predicate is ``monotonically_increasing_id() >= -1`` and not a
    ``rand()`` comparison: Spark 4 constant-folds every always-true
    rand() bound (rand>=-1, rand>=0.0, rand().isNotNull all optimize to
    nothing, verified), while the mid() comparison survives optimization
    and costs no RNG per row.

    Do NOT use where the blocked predicate is a cheap column comparison
    that parquet row-group stats could prune - there the push is the win.
    """
    return df.filter(F.monotonically_increasing_id() >= F.lit(-1))


# Above this input size the repartition's extra materialization of the
# whole scan outweighs idle cores: a big scan either feeds a shuffle
# anyway (joins/aggs re-distribute downstream) or amortizes its decode
# across enough real splits. 256 MB on 32 cores is ~8 MB/core - a
# sub-second round robin.
_WIDEN_MAX_BYTES = 256 * 1024 * 1024

# The size veto compares ON-DISK bytes, but a widen re-materializes
# DECOMPRESSED rows: a ~200 MB non-splittable gzip that inflates to
# multi-GB would pass a raw 256 MB gate and the repartition would
# shuffle the entire inflated scan — the exact case the veto exists to
# prevent. Compressed non-parquet inputs count at a conservative 10x
# (typical text gzip runs 3-10x), so the veto bites at ~25 MB on disk.
# Erring high only forgoes a widen (idle cores on a small file), never
# re-materializes gigabytes. Parquet never hits this: its sizes are
# already post-encoding and splits follow row groups.
_COMPRESSED_EXTS = (".gz", ".gzip", ".bz2", ".zst", ".zstd", ".xz",
                    ".lz4", ".deflate", ".br", ".snappy")
_COMPRESSED_RATIO = 10


def _scan_shape(df, cores: int) -> tuple[int, int | None]:
    """(effective parallel units, total input bytes|None) of a
    freshly-scanned frame.

    ``getNumPartitions()`` over-reports for coarse parquet: splits
    cannot cross row-group boundaries, so a 2-file table whose files
    hold one row group each runs TWO real tasks no matter how many
    byte-range splits the planner printed (the 100x corpus measured
    32 reported / 2 non-empty, and the inflated count disabled
    widen_scan exactly where it was needed). When the scan has few
    enough input files to inspect cheaply, cap the reported count by
    the total parquet row-group count and sum file sizes (driver-side
    footer/stat reads, one per file); many files, non-parquet sources,
    or any failure fall back to (reported count, None) - at real scan
    widths the file count alone already exceeds the gate."""
    parts = df.rdd.getNumPartitions()
    try:
        files = df.inputFiles()
    except Exception:
        return parts, None
    if not files or len(files) > max(cores, 64):
        # many files = the scan is wide anyway; no files = in-memory
        # frame (sizes are meaningless, partition count is honest)
        return parts, None
    try:
        import pyarrow.parquet as pq
        row_groups, nbytes, all_parquet = 0, 0, True
        for f in files:
            path = f.removeprefix("file://").removeprefix("file:")
            size = os.path.getsize(path)
            if path.endswith(".parquet"):
                row_groups += (pq.ParquetFile(path)
                               .metadata.num_row_groups)
            else:
                # non-parquet (csv/json/gz): no row-group notion, keep
                # the reported split count — but still return the byte
                # total so the size veto applies (a 1-split multi-GB
                # gzip must NOT be re-materialized by a widen), and
                # count compressed files at their estimated INFLATED
                # size (see _COMPRESSED_RATIO)
                all_parquet = False
                if path.lower().endswith(_COMPRESSED_EXTS):
                    size *= _COMPRESSED_RATIO
            nbytes += size
        return (min(parts, row_groups) if all_parquet else parts,
                nbytes)
    except Exception:
        return parts, None


def widen_scan(df, min_factor: int = 2):
    """Rebalance a freshly-scanned frame across all cores when the scan
    itself yields too few splits to use them.

    Small-file guard: a sub-128 MB single-row-group parquet file scans as
    ONE task, so CPU-heavy narrow transforms downstream (multi-format
    timestamp parsing, hashing, decimal arithmetic) run serially no
    matter how many cores exist. A round-robin repartition of a few MB
    is ~free and unlocks the full core count. At production scale the
    scan has thousands of splits, the gate is false, and this is a
    no-op -- never put an unconditional repartition after a scan: on a
    100 TB input that IS the bottleneck.

    ``min_factor=2``: widen whenever the scan uses at most half the
    cores. The earlier factor-4 gate left a 10-split scan unwidened on
    32 cores, and the 100x scaling run paid for it: the minhash sketch
    aggregation ran 11x (not 3.3x) slower on 3.33x data because
    tokenize+hash ran on 10 of 32 cores (measured 53.6s -> linear after
    widening). A scan already using >half the cores is left alone -- at
    that point the one-pass repartition shuffle costs more than the
    residual idle cores are worth.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    units, nbytes = _scan_shape(df, cores)
    if units * min_factor <= cores \
            and (nbytes is None or nbytes <= _WIDEN_MAX_BYTES):
        # size veto: an 880 MB lineitem scan with 8 row groups IS
        # under-split, but its consumers join/aggregate (shuffle and
        # re-distribute anyway) - widening it just re-materializes the
        # scan (q21 at 100x measured 13.3s -> 20.5s widened). Small
        # under-split scans feeding CPU-heavy narrow legs are the win.
        # barrier: without it Catalyst pushes downstream filters (with
        # their full derivation chains substituted in) below this
        # exchange onto the un-widened scan - the exact serial hot spot
        # the repartition exists to avoid (measured 5.3s -> 3.4s on
        # etl_clean_scaled at sf0.1).
        return no_pushdown_barrier(df.repartition(cores))
    return df


def broadcast_factscale(df):
    """Explicit broadcast hint for a FILTERED FACT-SCALE dimension (q5's
    ASIA supplier chain, q9's supplier and '%gear%' part projections).

    These sides grow linearly with the corpus — at the test scales they
    are single-digit MB and the hint removes a full-fact shuffle that
    Catalyst cannot see past (no CBO stats; AQE submits both child
    stages concurrently, so the big exchange is already written when
    the runtime sizes the small side). At 100 TB the same side is
    multi-GB and a forced broadcast OOMs executors (ADVICE r13 #1 — the
    scale-safety property the pre-r13 q5 guaranteed by staying
    declarative). The hint is therefore droppable per deployment:
    set SPARK_GRAFT_NO_FACTSCALE_BROADCAST=1 (same override pattern as
    SPARK_GRAFT_SHUFFLE_PARTITIONS) and every call degrades to the
    declarative form, letting AQE/CBO pick the join strategy from
    measured sizes. Rule of thumb for operators: drop the hints once
    the filtered side exceeds a few hundred MB framed — roughly 10M
    rows of (key int, payload) — well under the 8 GB / 512M-row
    broadcast hard cap.

    Bounded dims (nation/region, <= 25 rows at ANY scale factor) do NOT
    route through this gate — their broadcast is scale-safe by
    construction and stays unconditional."""
    if os.environ.get("SPARK_GRAFT_NO_FACTSCALE_BROADCAST"):
        return df
    return F.broadcast(df)


def get_spark(app_name: str = "python_etl_rest_api_spark",
              cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    local[N] for tests/bench; on a real cluster the master/memory settings
    come from spark-submit and only the SQL confs below (RUNTIME_CONF
    plus the shuffle/Arrow/codec settings) matter.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    # Initial shuffle parallelism follows the session's actual core
    # count instead of a constant tuned for one machine (r13; the old
    # hard-coded 32 matched local[32] but over-split an 8-core run and
    # under-split a wider one). AQE's partition coalescing still sizes
    # the real post-shuffle partition count from measured bytes; this
    # is only the upper bound it starts from. Overridable for cluster
    # deployments via SPARK_GRAFT_SHUFFLE_PARTITIONS (where 2-3x total
    # executor cores, or input-size/128MB, is the usual figure).
    try:
        n_shuffle = str(int(cpus))
    except ValueError:  # local[*]
        n_shuffle = str(os.cpu_count() or 32)
    n_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", n_shuffle)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=RUNTIME_CONF)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python workers unpickle the package's operators by reference, so
    # they need the package on their path whatever the driver's cwd is.
    # sc.environment is spark.executorEnv.* as the context read it, and
    # Spark merges its PYTHONPATH into every worker's path. It is set
    # here, not on the builder: a builder value would replace one from
    # spark-defaults or spark-submit, and an existing session ignores it.
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "")
    if _PACKAGE_PARENT not in paths.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [_PACKAGE_PARENT,
                                                          paths]))
    return tune(spark)
