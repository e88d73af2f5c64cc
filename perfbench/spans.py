"""Spans and counters for the traced run (``--trace 1``).

Spans wrap the runner's calls into the engine's public entry points: name,
start, end, parent span, operation id. They are kept in memory and written
out when the run ends. With tracing off every ``span()`` is the same no-op
context manager and no Spark job group, tracker or event log is touched.

Counts come from three places, all read from outside the package:
- ``statusTracker`` by job group: jobs, stages and tasks per span;
- ``queryExecution().tracker()``: Catalyst analysis, optimization and
  physical-planning time per query;
- Spark's event log (enabled only in the traced run): shuffle, spill, task
  run and GC time per task, attributed to spans through job groups.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self.heap_peak_mb = 0.0
        self.phase: str | None = None
        self._uncounted: list[dict] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def span(self, name: str, op: str | None = None, group: str | None = None):
        """Record a span; with ``group``, Spark jobs started inside it are
        tagged with that job group and counted by ``count_jobs``."""
        if not self.enabled:
            return _NULL
        return _Span(self, name, op, group)

    def catalyst(self, df) -> dict[str, float]:
        """Catalyst phase durations of the query behind ``df``."""
        if not self.enabled:
            return {}
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for key in ("analysis", "optimization", "planning"):
            found = phases.get(key)
            if found.isDefined():
                out[key] = found.get().durationMs() / 1000.0
        return out

    def sample_heap(self) -> None:
        if not self.enabled:
            return
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        self.heap_peak_mb = max(self.heap_peak_mb, used)

    def count_jobs(self) -> None:
        """Count jobs, stages and tasks of the job-grouped spans closed since
        the last call. Call it outside any timed region: each count is a few
        JVM round trips per job."""
        for rec in self._uncounted:
            rec["jobs"], rec["stages"], rec["tasks"] = self._jobs(rec["group"])
        self._uncounted.clear()

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group) or []
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo is not None else 0
        return len(job_ids), stages, tasks


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: str | None, group: str | None):
        self.t, self.name, self.op, self.group = tracer, name, op, group

    def __enter__(self):
        t = self.t
        self.rec = {
            "name": self.name,
            "op": self.op,
            "parent": t._stack[-1] if t._stack else None,
            "group": self.group,
            "phase": t.phase,
        }
        t.spans.append(self.rec)
        t._stack.append(len(t.spans) - 1)
        if self.group is not None:
            t.sc.setJobGroup(self.group, self.name)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        t = self.t
        t._stack.pop()
        if self.group is not None:
            t.sc.setJobGroup(None, None)
            t._uncounted.append(self.rec)
        return False


def self_times(spans: list[dict], keep) -> dict[str, float]:
    """Total self time per span name over spans for which ``keep(span)``
    holds; a span's self time is its duration minus its children's."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if keep(s):
            out[s["name"]] += s["end"] - s["start"] - child[i]
    return dict(out)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_fracs(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {"host.idle_frac": (d[3] + d[4]) / total, "host.steal_frac": d[7] / total}


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


EXEC_KEYS = (
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.spill_bytes",
    "exec.task_run_s",
    "exec.jvm_gc_s",
)


def event_log_metrics(log_dir: str, app_id: str, keep_group) -> dict[str, float]:
    """Task metrics summed over jobs whose job group satisfies ``keep_group``."""
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
    paths: list[str] = []
    for f in files:
        paths += sorted(glob.glob(os.path.join(f, "*"))) if os.path.isdir(f) else [f]
    kept_stages: set[int] = set()
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None and keep_group(group):
                        kept_stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in kept_stages:
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    out["exec.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    out["exec.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    out["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["exec.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return out
