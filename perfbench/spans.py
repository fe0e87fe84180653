"""Spans and Spark counters recorded from the benchmark's own code.

A span wraps one call into the program's public API: name, start, end,
parent span, operation id. In a traced run every span also runs its
Spark jobs under a job group of its own, so the jobs, stages, tasks,
shuffle bytes and executor time it caused can be read back from Spark's
status store once the operation ends. Nothing inside the program is
instrumented. Spans stay in memory and are written out at exit.

With tracing off every call below is a no-op, so the untraced run pays
nothing but a context-manager entry per span.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

# (stage field, counter name, scale)
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("numFailedTasks", "failed_tasks", 1),
)
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.op_counters: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._frames: list = []

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """One benchmark operation (a request or a decode pass)."""
        if not self.enabled:
            yield
            return
        self._op = {"op": len(self.op_counters), "kind": kind}
        self._frames = []
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._collect()
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        op = self._op["op"] if self._op else -1
        rec = {"name": name, "op": op, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"perfbench:{op}:{len(self.spans)}"}
        self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"],
                               self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def frame(self, df):
        """Remember a DataFrame the current operation built, so its
        Catalyst phase times can be read once the operation ends."""
        if self.enabled and self._op is not None:
            self._frames.append(df)
        return df

    # -- counters, read once per operation ----------------------------
    def _collect(self) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job and stage status arrive through the asynchronous listener
        # bus; drain it so this operation's jobs are all recorded
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        spans = [s for s in self.spans if s["op"] == self._op["op"]]
        for s in spans:
            c = defaultdict(float)
            for jid in tracker.getJobIdsForGroup(s["group"]):
                job = store.job(jid)
                c["jobs"] += 1
                if job.completionTime().isDefined():
                    c["job_s"] += (job.completionTime().get().getTime()
                                   - job.submissionTime().get().getTime()) / 1e3
                for sid in tracker.getJobInfo(jid).stageIds:
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    for attr, key, scale in _STAGE_FIELDS:
                        c[key] += getattr(st, attr)() * scale
            s["counters"] = dict(c)
        phases = defaultdict(float)
        for df in self._frames:
            qe = df._jdf.queryExecution()
            qe.executedPlan()       # forces optimisation and planning
            ph = qe.tracker().phases()
            for p in PHASES:
                if ph.contains(p):
                    phases[p] += ph.apply(p).durationMs()
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        self._op.update({
            "phases_ms": dict(phases),
            "jvm_gc_ms": sum(b.getCollectionTime()
                             for b in mf.getGarbageCollectorMXBeans()),
            "jvm_heap_used_mb":
                mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2 ** 20,
            "persistent_rdds": sc._jsc.getPersistentRDDs().size(),
        })
        self.op_counters.append(self._op)

    # -- reports --------------------------------------------------------
    def layers(self, ops: set[int]) -> dict[str, dict]:
        """Per span name, over the given operations: calls, median self
        time per operation that ran it (span minus the part its child
        spans cover), median wall per call, and mean jobs per call."""
        children = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] += s["end"] - s["start"]
        self_by_op = defaultdict(lambda: defaultdict(float))
        calls = defaultdict(list)
        for s in self.spans:
            if s["op"] in ops:
                wall = s["end"] - s["start"]
                self_by_op[s["name"]][s["op"]] += wall - children[s["id"]]
                calls[s["name"]].append(
                    (wall, s.get("counters", {}).get("jobs", 0.0)))
        return {name: {"calls": len(c),
                       "self_s": statistics.median(
                           self_by_op[name].values()),
                       "s_per_call": statistics.median(w for w, _ in c),
                       "jobs_per_call": statistics.fmean(j for _, j in c)}
                for name, c in calls.items()}

    def op_totals(self, key: str, ops: set[int]) -> float:
        """Mean over operations of a span counter summed per operation.
        A mean, not a median: the counters are whole milliseconds or
        whole jobs, and a median of them repeats exactly run to run."""
        per_op = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                per_op[s["op"]] += s.get("counters", {}).get(key, 0.0)
        return statistics.fmean(per_op[o] for o in ops) if ops else 0.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.op_counters, **extra},
                      f)
