"""Counters and spans read from outside the program.

``StatusMeter`` is the benchmark's own AppStatusStore reader. Each
``read()`` drains the listener bus first, so a stage whose metrics are
still queued is not charged to the next operation, and it counts each
(stage, attempt) exactly once by remembering what it already charged.
``Tracer`` records a span around a call into a layer with the counter
delta over the span, keeps them in memory and writes them out on
request. The no-op ``NullTracer`` is what untraced runs use.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

#: counters summed over stages; values are per-stage cumulative, so a
#: stage read while still running is charged its increase on the next read
STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}
COUNTERS = (*STAGE_FIELDS, "stages", "jobs", "jvm_cpu_s", "driver_py_cpu_s")

#: stages re-read below the newest id seen last time, so a stage that
#: was still running then gets its remaining increase
_RESCAN = 64


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _proc_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class StatusMeter:
    """Cumulative counters of one SparkContext, read through its
    AppStatusStore and the processes' /proc entries."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._gw = gw
        self._jvm_pid = gw.proc.pid
        scala = gw.jvm.com.fasterxml.jackson.module.scala
        self._json = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        self._charged: dict[tuple[int, int], dict[str, float]] = {}
        self._seen_stages: set[tuple[int, int]] = set()
        self._max_stage = -1
        self.totals = dict.fromkeys(COUNTERS, 0.0)
        self.read()

    def _stage_rows(self) -> list[dict]:
        gw = self._gw
        empty = gw.jvm.java.util.ArrayList()
        stages = self._jsc.statusStore().stageList(
            empty, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        if stages.isEmpty():
            return []
        # newest first: only the stages above the previous high-water
        # mark (plus a rescan margin) need serialising
        newest = stages.head().stageId()
        take = max(0, newest - self._max_stage) + _RESCAN
        return json.loads(self._json.writeValueAsString(stages.take(take)))

    def read(self) -> dict[str, float]:
        """Drain the listener bus and return the cumulative counters."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        for row in self._stage_rows():
            key = (row["stageId"], row["attemptId"])
            self._max_stage = max(self._max_stage, row["stageId"])
            if row["status"] == "SKIPPED":
                continue
            prev = self._charged.setdefault(key, {})
            for name, (field, scale) in STAGE_FIELDS.items():
                now = row[field] * scale
                if now > prev.get(name, 0):
                    self.totals[name] += now - prev.get(name, 0)
                    prev[name] = now
            if key not in self._seen_stages and row["status"] in ("COMPLETE", "FAILED"):
                self._seen_stages.add(key)
                self.totals["stages"] += 1
        # job ids are sequential and the store lists the newest first, so
        # the newest id counts every job submitted, streaming ones included
        jobs = self._jsc.statusStore().jobsList(None)
        self.totals["jobs"] = 0 if jobs.isEmpty() else jobs.head().jobId() + 1
        self.totals["jvm_cpu_s"] = _proc_cpu_s(self._jvm_pid)
        self.totals["driver_py_cpu_s"] = time.process_time()
        return dict(self.totals)

    def persisted(self) -> tuple[int, int]:
        """(persisted RDD count, block-manager storage bytes in use)."""
        rdds = self._jsc.getPersistentRDDs().size()
        status = self._jsc.getExecutorMemoryStatus()
        used = 0
        it = status.valuesIterator()
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        return rdds, used

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the Spark driver: this process plus the JVM."""
        return (_proc_hwm_kb(os.getpid()) + _proc_hwm_kb(self._jvm_pid)) / 1024


def host_ref_times(reps: int = 5) -> tuple[list[float], list[float]]:
    """Wall and CPU seconds per repetition of a fixed job on every core:
    each thread sorts its own copy of 8 Mi random doubles. The job is
    independent of the program, so its times track only how fast the
    host runs now: the wall time also counts time the host gave to other
    machines, the CPU time (per thread) only how fast a core computes."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    threads = len(os.sched_getaffinity(0))
    base = np.random.default_rng(0).random(1 << 23)

    def work(_):
        t = time.thread_time()
        a = base.copy()
        a.sort()
        return time.thread_time() - t

    walls, cpus = [], []
    with ThreadPoolExecutor(threads) as pool:
        for _ in range(reps):
            t = time.perf_counter()
            cpu = sum(pool.map(work, range(threads))) / threads
            walls.append(time.perf_counter() - t)
            cpus.append(cpu)
    return walls, cpus


def delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in COUNTERS}


class NullTracer:
    enabled = False
    overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    """Spans with counter deltas, kept in memory until ``dump``.

    Spans may open on several threads (``run_pipeline`` runs its ML and
    network stages in parallel); each thread keeps its own stack, and a
    thread's first span hangs under the span open on the main thread.
    The deltas of spans that overlap in time include each other's work."""

    enabled = True

    def __init__(self, meter: StatusMeter):
        self.meter = meter
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent reading counters
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _read(self) -> dict:
        with self._lock:
            t = time.perf_counter()
            out = self.meter.read()
            self.overhead_s += time.perf_counter() - t
        return out

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            span = {"id": len(self.spans), "parent": parent, "name": name, **attrs}
            self.spans.append(span)
        stack.append(span["id"])
        before = self._read()
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["wall_s"] = span["end"] - span["start"]
            span["counters"] = delta(before, self._read())
            stack.pop()

    def dump(self, path: str, **meta) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "tracer_overhead_s": self.overhead_s, "spans": self.spans}, f)
