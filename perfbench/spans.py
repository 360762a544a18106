"""In-memory spans and Spark counters for the traced benchmark run.

Spans are recorded around each call the benchmark makes into a layer
(workload -> pass -> op -> build | action) and kept in memory until the
run ends. Spark work is attributed to a phase by job-id window: the
DAG scheduler numbers jobs consecutively, and the benchmark runs one op
at a time, so every job numbered between a phase's start and end ran
for that phase, including jobs a streaming query thread submits under
its own job group. Job and stage figures are read from the status
store (``sc._jsc.sc().statusStore()``), which Spark keeps even with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so
    the timed runs make no extra py4j calls."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jsc = spark.sparkContext._jsc.sc() if enabled else None

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Record one span; ``jobs=True`` also records its job-id window."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if jobs:
            rec["job_lo"] = self.next_job_id()
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            if jobs:
                rec["job_hi"] = self.next_job_id()
            self._stack.pop()

    def cached_block_bytes(self) -> int:
        """Bytes of RDD blocks held in memory or on disk right now."""
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self._jsc.getRDDStorageInfo())

    def resolve_jobs(self, spans: list[dict]) -> None:
        """Attach job and stage counters to every span with a job window.

        Waits for the listener bus to drain first: stage metrics reach
        the status store asynchronously, after the action returns.
        """
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for rec in spans:
            if "job_lo" not in rec or "jobs" in rec:
                continue
            rec["jobs"] = [_job(store, j) for j in range(rec["job_lo"], rec["job_hi"])]


def _job(store, job_id: int) -> dict:
    try:
        jd = store.job(job_id)
    except Exception:  # evicted from the store, or never registered
        return {"id": job_id, "missing": True}
    sub, done = jd.submissionTime(), jd.completionTime()
    stages = [int(s) for s in str(jd.stageIds().mkString(",")).split(",") if s]
    out = {
        "id": job_id,
        "group": jd.jobGroup().get() if jd.jobGroup().isDefined() else None,
        "status": str(jd.status().toString()),
        "submitted_ms": int(sub.get().getTime()) if sub.isDefined() else None,
        "completed_ms": int(done.get().getTime()) if done.isDefined() else None,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "task_run_ms": 0,
        "task_cpu_ns": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "output_bytes": 0,
    }
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:
            continue
        if str(sd.status().toString()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
        out["failed_tasks"] += int(sd.numFailedTasks())
        out["task_run_ms"] += int(sd.executorRunTime())
        out["task_cpu_ns"] += int(sd.executorCpuTime())
        out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
        out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        out["output_bytes"] += int(sd.outputBytes())
    return out


JOB_SUMS = (
    "stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes",
)


def job_totals(jobs: list[dict]) -> dict:
    tot = {k: 0 for k in JOB_SUMS}
    tot["jobs"] = len(jobs)
    tot["missing_jobs"] = sum(1 for j in jobs if j.get("missing"))
    for j in jobs:
        for k in JOB_SUMS:
            tot[k] += j.get(k, 0)
    return tot


def busy_seconds(jobs: list[dict], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (epoch seconds) during which a job ran."""
    iv = sorted(
        (max(lo, j["submitted_ms"] / 1e3), min(hi, j["completed_ms"] / 1e3))
        for j in jobs
        if j.get("submitted_ms") is not None and j.get("completed_ms") is not None
    )
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def self_times(spans: list[dict]) -> None:
    """Set ``dur`` and ``self`` (duration minus child spans) on each span."""
    child = {}
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur"]
    for s in spans:
        s["self"] = s["dur"] - child.get(s["id"], 0.0)


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a process, in KiB."""
    with open(os.path.join("/proc", str(pid), "status")) as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid: int | str = "self") -> None:
    """Reset a process's ``VmHWM`` to its current resident set."""
    with open(os.path.join("/proc", str(pid), "clear_refs"), "w") as fh:
        fh.write("5")


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and all
    its descendants, including descendants that have exited and been
    waited for. Covers the driver, the JVM and the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [root_pid]
    children: dict = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / tick
