"""Spans, Spark status reads and the small statistics the runner needs.

Spans are recorded only from the benchmark's side of each call into
the package (the package itself is not instrumented). With tracing
off, ``Tracer.span`` is a no-op context and no status store is read.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        # time the tracer itself spends reading Spark status and plans
        # inside a timed section
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "name": name, **attrs}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    @contextlib.contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, str, int]:
    """The highest percentile with at least 10 samples above it:
    (value, percentile label, sample count). Below 21 samples that
    percentile is at or under the median, so the maximum is reported."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, "none", 0
    if n < 21:
        return xs[-1], "max", n
    return xs[n - 11], f"p{100.0 * (n - 10) / n:.1f}", n


# -- Spark status (traced runs only) -----------------------------------------


class JobStats:
    """Sums stage metrics of the jobs in a set of job groups, read from
    the application status store (works with spark.ui.enabled=false)."""

    FIELDS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
              "input_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._seen_stages: set[int] = set()

    def groups(self, group_ids) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        for gid in group_ids:
            for jid in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in list(info.stageIds):
                    self._add_stage(int(sid), out)
        return out

    def _add_stage(self, sid: int, out: dict) -> None:
        if sid in self._seen_stages:
            return
        attempts = self.store.stageData(
            sid, False, self._no_tasks, False, self._no_q)
        it = attempts.iterator()
        ran = False
        while it.hasNext():
            d = it.next()
            if d.status().toString() == "SKIPPED":
                continue
            ran = True
            out["tasks"] += d.numCompleteTasks()
            out["run_ms"] += d.executorRunTime()
            out["cpu_ms"] += d.executorCpuTime() / 1e6
            out["gc_ms"] += d.jvmGcTime()
            out["input_bytes"] += d.inputBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        if ran:
            self._seen_stages.add(sid)
            out["stages"] += 1


def plan_phases_ms(df) -> dict[str, float]:
    """Optimization and physical-planning time of the DataFrame's own
    QueryExecution (plans it if it has not been planned yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for key, name in (("optimization", "optimize"), ("planning", "physical")):
        opt = phases.get(key)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_lines(df) -> int:
    return len(df._jdf.queryExecution().toString().splitlines())


def held_rdds(spark) -> tuple[int, int]:
    """(persisted RDDs, their memory + disk bytes)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    nbytes = sum(i.memSize() + i.diskSize()
                 for i in jsc.sc().getRDDStorageInfo())
    return n, nbytes


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")
