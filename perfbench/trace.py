"""Spans, Spark counters and process counters, recorded from outside the
program.

A span is opened by the benchmark around each call it makes into a layer
of the program (``session``, ``sources``, ``plans``, ``operators``,
``mount``, ``queries``) or into the Spark engine beneath it
(``spark.collect``).  Spans live in memory and are written once the run
ends; a span's self time is its duration minus the part its child spans
cover.  With tracing off, ``span`` is a no-op and
no Spark counter is read.

Spark counters come from the engine's own bookkeeping, read after each
operation:

- jobs, stages and tasks from the status tracker.  The benchmark tags each
  operation's jobs with a job group; jobs the program launches from its
  own worker threads carry no group, so the jobs of an operation are its
  group's plus the group-less ones that appeared during it (one client, so
  nothing else launches jobs meanwhile);
- executor run/CPU time, shuffle and spill bytes from the status store's
  per-stage data;
- time spent in Python workers (the ``functions`` layer's Arrow kernels
  and every other Python UDF) from the SQL metric "time to run Python
  workers" of the operation's SQL executions;
- Catalyst phase times from the result DataFrame's ``queryExecution``
  tracker (analysis, optimization, planning).

Process counters cover the benchmark's Python process and its
descendants — the Spark JVM and the Python workers it forks — from
``/proc``: peak resident memory, and CPU seconds, which unlike wall time
exclude the time a shared host's hypervisor lets other guests run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")
#: the SQL metric Spark's Python eval nodes report their worker time in
PYTHON_TIME = "time to run Python workers"
_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_START = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on standard error, stamped with seconds since the
    benchmark's modules were loaded."""
    print(f"[perfbench {time.perf_counter() - _START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    exited children they have reaped included (a Python worker's time
    moves into its parent's count when it exits)."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name, summed over the run."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, child):
            out[s["name"]] += (s["end"] - s["start"]) - c
        return dict(out)

    def op_span_ms(self, prefix: str | tuple) -> list[float]:
        """Per-operation total milliseconds of the spans whose name starts
        with ``prefix``."""
        per_op: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"].startswith(prefix) and s["op"] is not None:
                per_op[s["op"]] += (s["end"] - s["start"]) * 1e3
        return list(per_op.values())

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


class SparkCounters:
    """Per-operation engine counters (traced runs only)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._before: set[int] = set()
        self._n_exec = 0
        self.per_op: list[dict] = []

    def begin(self, op_id: str) -> None:
        self._bus.waitUntilEmpty()
        self._before = set(self.tracker.getJobIdsForGroup(None))
        self._n_exec = int(self.sql_store.executionsCount())
        self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str, cls: str, result_df=None) -> dict:
        self.sc.setJobGroup(None, None)
        self._bus.waitUntilEmpty()  # let the status stores see the op's last events
        jobs = set(self.tracker.getJobIdsForGroup(op_id))
        jobs |= set(self.tracker.getJobIdsForGroup(None)) - self._before
        rec = {"op": op_id, "cls": cls, "jobs": len(jobs), "stages": 0, "tasks": 0,
               "run_ms": 0.0, "cpu_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0,
               "spill": 0}
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            data = self.store.stageData(s, False, self._no_tasks, False, self._no_quantiles)
            if data.isEmpty():
                continue
            d = data.head()
            if d.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            rec["stages"] += 1
            rec["tasks"] += d.numCompleteTasks()
            rec["run_ms"] += d.executorRunTime()
            rec["cpu_ms"] += d.executorCpuTime() / 1e6
            rec["shuffle_read"] += d.shuffleReadBytes()
            rec["shuffle_write"] += d.shuffleWriteBytes()
            rec["spill"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        rec["python_ms"] = self._python_ms()
        if result_df is not None:
            rec["plan_ms"] = catalyst_ms(result_df)
        self.per_op.append(rec)
        return rec

    def _python_ms(self) -> float:
        """Python-worker milliseconds of the SQL executions started since
        ``begin``."""
        total = 0.0
        execs = self.sql_store.executionsList(self._n_exec, 1 << 30)
        for i in range(execs.size()):
            e = execs.apply(i)
            metrics = e.metrics()
            ids = {metrics.apply(j).accumulatorId() for j in range(metrics.size())
                   if metrics.apply(j).name() == PYTHON_TIME}
            if not ids:
                continue
            values = self.sql_store.executionMetrics(e.executionId()).iterator()
            while values.hasNext():
                kv = values.next()
                if kv._1() in ids:
                    total += duration_ms(kv._2())
        return total

    def cached_bytes(self) -> int:
        return sum(
            int(i.memSize()) + int(i.diskSize()) for i in self.sc._jsc.sc().getRDDStorageInfo()
        )


def duration_ms(text: str) -> float:
    """A timing metric's total as Spark formats it: ``"1.2 s"``, or the
    first figure under a ``"total (min, med, max ...)"`` header."""
    m = _DURATION.search(text.split("\n")[-1])
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s
    execution, from its ``queryExecution`` tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total
