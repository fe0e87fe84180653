"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, measured untraced; with --trace 1
they are the per-layer ones, and the spans are written to
.perfbench/trace-<workload>-<seed>.json. A human-readable report goes
to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "python_etl_rest_api_spark"

STAGINGS = 3         # setup_s takes the median of this many stagings
# units run after the cold one and before the timed region. A serve run
# has no room for more: JVM start, the warehouse build and the cold round
# already take about 30 s of a budget of about 70 s per run. The first
# round after the cold one was the slowest in most runs.
WARMUP_UNITS = {"serve": 1, "media": 1}
# The timed region runs a fixed number of units: --seconds divided by
# this nominal unit time (a serve round took 6-7 s on 4 cores, a media
# pass about 3.8 s). The count depends only on --seconds, never on how
# fast the code under test runs, so two commits time the same units at
# the same point of the warm-up curve.
NOMINAL_UNIT_S = {"serve": 5.0, "media": 3.75}


def log(*args) -> None:
    print("#", *args, file=sys.stderr, flush=True)


def pin_environment(work: str) -> dict:
    """Pin the run environment from outside the package, before the JVM
    starts: cores, driver heap sized to the box, local dirs, and the
    Python workers' import path."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    # the workloads keep under 300 MB live on the heap; a 1 GiB cap also
    # bounds how far G1 grows the heap, which set JVM peak RSS anywhere
    # from 766 to 1124 MB over ten runs with a 2 GiB heap
    heap_mb = min(1024, total_mb // 8)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # temporary files of the JVM and of Python stay in the run's scratch
    # directory; -XX:-UsePerfData keeps the driver JVM out of
    # /tmp/hsperfdata_*
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false"
            f" --driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })
    return {"cores": cores, "mem_total_mb": total_mb,
            "driver_heap_mb": heap_mb}


def descendants() -> set[int]:
    """Pids of every live process below this one: the JVM that
    spark-submit execs, the Python daemon and its workers."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set size (VmHWM, MB) of this process and of every
    live descendant."""
    by_pid = {}
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        by_pid[f"{name}:{pid}"] = int(line.split()[1]) / 1024
        except OSError:
            continue
    return by_pid


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then make the JVM exit and wait until it and
    every process under it (Python daemon, workers) have ended. A JVM
    left running after this process exits would steal the next run's
    cores."""
    tree = descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()       # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in tree):
        if time.monotonic() > deadline:
            for p in tree:
                if _running(p):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far. On a
    virtual machine the stolen share is time the host gave to others."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def trend(values: list[float]) -> float | None:
    """Second-half median over first-half median of the timed region;
    near 1 when the region no longer trends."""
    if len(values) < 4:
        return None
    half = len(values) // 2
    return statistics.median(values[half:]) / statistics.median(values[:half])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "media"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package next to {HERE}: nothing to benchmark")
        return 2
    sys.path[:0] = [ROOT, HERE]
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str) -> int:
    env = pin_environment(work)
    import bench
    bench.kill_orphan_spark_jvms()

    import spans
    import workloads

    t0 = time.perf_counter()
    from python_etl_rest_api_spark.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        return measure(args, spark, work, out_dir, env, session_s,
                       spans, workloads)
    finally:
        stop_spark(spark)


def measure(args, spark, work, out_dir, env, session_s, spans,
            workloads) -> int:
    tr = spans.Tracer(spark, enabled=False)
    wl = workloads.WORKLOADS[args.workload](spark, tr, work, args.seed)
    stagings = workloads.stage_repeated(wl, work, STAGINGS)
    setup_s = (time.perf_counter() - T_START) - sum(stagings) \
        + statistics.median(stagings)

    # a traced run records spans from here on; its timed region
    # alternates traced and untraced units to measure the overhead
    tr.enabled = bool(args.trace)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    samples: list[list] = []
    t0 = time.perf_counter()
    samples.append(wl.unit())
    cold_s = time.perf_counter() - t0
    for _ in range(WARMUP_UNITS[args.workload]):
        samples.append(wl.unit())
    warm_units = len(samples)
    first_timed_op = len(tr.op_counters)

    unit_walls: list[float] = []
    units = max(2, round(args.seconds / NOMINAL_UNIT_S[args.workload]))
    ticks = cpu_ticks()
    t_region = time.perf_counter()
    while len(unit_walls) < units:
        if args.trace:
            tr.enabled = len(unit_walls) % 2 == 0
        t0 = time.perf_counter()
        samples.append(wl.unit())
        unit_walls.append(time.perf_counter() - t0)
    region_s = time.perf_counter() - t_region
    stolen, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    tr.enabled = bool(args.trace)
    rss_by_process = peak_rss_mb()
    rss = sum(rss_by_process.values())

    flat = [s for unit in samples for s in unit]
    timed = [s for unit in samples[warm_units:] for s in unit]
    failed = sum(not s.ok for s in flat)
    untraced = [s.seconds for s in timed if not s.traced]
    lat = untraced or [s.seconds for s in timed]
    p50_ms = statistics.median(lat) * 1e3
    # throughput of the closed loop over the (untraced) timed units
    walls = [w for i, w in enumerate(unit_walls)
             if not args.trace or i % 2 == 1] or unit_walls
    items_per_s = wl.items * len(walls) / sum(walls)

    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold_s, "s"),
        "p50_ms": (p50_ms, "ms"),
        "items_per_s": (items_per_s, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    report = {
        "workload": args.workload, "seed": args.seed,
        "environment": {
            **env, "spark": spark.version,
            "master": spark.sparkContext.master,
            "shuffle_partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
        },
        "session_start_s": session_s, "stagings_s": stagings,
        "prepare_s": prepare_s, "warmup_units": warm_units - 1,
        "timed_units": len(unit_walls), "timed_region_s": region_s,
        "unit_walls_s": unit_walls,
        "host_steal_share": stolen / total if total else None,
        "samples": len(lat), "trend": trend(lat),
        "p50_ms_by_kind": {
            kind: statistics.median(s.seconds for s in timed
                                    if s.kind == kind) * 1e3
            for kind in sorted({s.kind for s in timed})},
        "peak_rss_mb_by_process": rss_by_process,
        "ops": len(flat), "ops_failed": failed,
        "fail_ratio": failed / len(flat),
    }
    log(json.dumps(report))
    for name, (value, unit) in e2e.items():
        n = len(walls) if name == "items_per_s" else (
            len(lat) if name == "p50_ms" else 1)
        log(f"{args.workload}/{name} = {value:.4f} {unit} (n={n})")

    if args.trace:
        ops = set(range(first_timed_op, len(tr.op_counters)))
        traced = [s.seconds for s in timed if s.traced]
        overhead = {"traced_p50_ms": statistics.median(traced) * 1e3,
                    "untraced_p50_ms": p50_ms if untraced else None}
        # needs at least two timed units: one traced, one untraced
        overhead["overhead_ms"] = (
            overhead["traced_p50_ms"] - p50_ms if untraced else None)
        layers = tr.layers(ops)
        metrics = per_layer(tr, ops, layers, session_s, spans.PHASES)
        log("tracing overhead:", json.dumps(overhead))
        log("per layer: calls, self s (median per operation that ran it),"
            " s per call (median), jobs per call (mean)")
        for name, v in sorted(layers.items(), key=lambda kv: -kv[1]["self_s"]):
            log(f"  {name:<26} {v['calls']:4d} {v['self_s']:8.4f}"
                f" {v['s_per_call']:8.4f} {v['jobs_per_call']:6.2f}")
        path = os.path.join(out_dir,
                            f"trace-{args.workload}-{args.seed}.json")
        tr.dump(path, {"report": report, "overhead": overhead,
                       "layers": layers, "per_layer": metrics,
                       "end_to_end": {k: v for k, (v, _) in e2e.items()}})
        log("spans written to", os.path.relpath(path))
        result = {k: {"value": v, "unit": u}
                  for k, (v, u) in metrics.items()}
    else:
        result = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(flat),
                      "failed": failed, "metrics": result}), flush=True)
    return 0


def per_layer(tr, ops: set[int], layers: dict, session_s: float,
              phase_names) -> dict:
    """Per-layer metrics over the traced timed operations."""
    counters = [tr.op_counters[o] for o in sorted(ops)]
    phases = {p: statistics.fmean(c["phases_ms"].get(p, 0.0)
                                  for c in counters)
              for p in phase_names}
    metrics = {
        "session.start_s": (session_s, "s"),
        "plan.analysis_ms": (phases["analysis"], "ms"),
        "plan.optimization_ms": (phases["optimization"], "ms"),
        "plan.planning_ms": (phases["planning"], "ms"),
        "exec.s": (tr.op_totals("job_s", ops), "s"),
        "exec.jobs": (tr.op_totals("jobs", ops), "count"),
        "exec.stages": (tr.op_totals("stages", ops), "count"),
        "exec.tasks": (tr.op_totals("tasks", ops), "count"),
        "exec.failed_tasks": (tr.op_totals("failed_tasks", ops), "count"),
        "exec.shuffle_read_bytes":
            (tr.op_totals("shuffle_read_bytes", ops), "bytes"),
        "exec.shuffle_write_bytes":
            (tr.op_totals("shuffle_write_bytes", ops), "bytes"),
        "exec.spill_bytes": (tr.op_totals("spill_bytes", ops), "bytes"),
        "exec.executor_cpu_s": (tr.op_totals("executor_cpu_s", ops), "s"),
        "exec.executor_run_s": (tr.op_totals("executor_run_s", ops), "s"),
        "sources.read_s":
            (layers.get("sources.read", {}).get("s_per_call", 0.0), "s"),
        "opcache.resident_after_op":
            (statistics.median(c["persistent_rdds"] for c in counters),
             "count"),
        "jvm.gc_s": (counters[-1]["jvm_gc_ms"] / 1e3, "s"),
        "jvm.heap_used_mb":
            (statistics.median(c["jvm_heap_used_mb"] for c in counters),
             "MB"),
    }
    return metrics


if __name__ == "__main__":
    sys.exit(main())
