"""Spans and counters for the traced run, plus the process-tree probes
both runs use.

A span is recorded around each call the benchmark makes into one of
the package's layers: name, start, end, parent span and run id. At the
same boundaries the tracer reads the counters that belong to the call:
Spark's status store (jobs, stages, tasks, executor time, shuffle,
spill and input), the CPU time of the pyspark Python worker processes
from ``/proc``, and the bytes cached in Spark's block manager.
Everything is kept in memory and written out when the run ends.

With tracing off, ``NullTracer`` stands in and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024


def proc_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s() -> float:
    """User+system CPU seconds of the pyspark Python daemon and workers
    under this process, including workers the daemon has reaped."""
    total = 0
    for pid in proc_tree(os.getpid())[1:]:
        if "pyspark.daemon" not in _cmdline(pid) and "pyspark.worker" not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of this process, the driver JVM
    and the pyspark Python processes under it, by role."""
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in proc_tree(os.getpid()):
        cmd = _cmdline(pid)
        role = ("driver" if pid == os.getpid() else "jvm" if "java" in cmd.split(" ")[0]
                else "python_workers" if "pyspark." in cmd else None)
        if role is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[role] += int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


class SparkCounters:
    """Totals over the jobs and stages that finished since the previous
    ``delta()``. The status store lists stages and jobs newest first,
    so each read stops at the first id already seen."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stage = self._job = -1
        self.delta()

    def delta(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        out = dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, input_mb=0.0,
                   input_rows=0, shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        top = self._stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage:
                break
            top = max(top, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_mb"] += s.inputBytes() / _MB
            out["input_rows"] += s.inputRecords()
            out["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        self._stage = top
        jobs = self._store.jobsList(None)
        top = self._job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self._job:
                break
            top = max(top, jid)
            out["jobs"] += 1
        self._job = top
        return out

    def cached_mb(self) -> float:
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo()) / _MB


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def sample_cache(self) -> None:
        pass


class Tracer:
    """Tracing on: spans with counters, kept in memory until ``dump``."""

    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counters = SparkCounters(spark)
        self._py = python_worker_cpu_s()
        self.cached_peak_mb = 0.0

    def _charge(self) -> None:
        """Add the counters accrued since the last boundary to the
        innermost open span, so each span holds its SELF counts and
        work outside every span is dropped."""
        d = self._counters.delta()
        py = python_worker_cpu_s()
        d["python_cpu_s"], self._py = py - self._py, py
        if self._stack:
            rec = self.spans[self._stack[-1]]
            for k, v in d.items():
                rec[k] = rec.get(k, 0) + v

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        self._charge()
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._charge()
            self._stack.pop()

    def sample_cache(self) -> None:
        self.cached_peak_mb = max(self.cached_peak_mb, self._counters.cached_mb())

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, fh)
