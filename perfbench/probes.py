"""Measurements taken from outside the engine.

Everything here reads what Spark, the JVM and the OS already expose:
the live status store (with the UI off), the JVM's MX beans over py4j,
``/proc`` for the JVM and its Python worker processes, and a
``StreamingQueryListener`` the benchmark registers. The pure arithmetic
(stage diff, interval union, busy share, span self time) is kept apart
so it can be tested on tiny fixed inputs.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# --- pure arithmetic --------------------------------------------------------


def new_entries(before: list[dict], after: list[dict], key: tuple[str, ...]) -> list[dict]:
    """Entries of ``after`` whose ``key`` fields do not occur in ``before``
    (stages are keyed by stage and attempt id, jobs by job id)."""
    seen = {tuple(e[k] for k in key) for e in before}
    return [e for e in after if tuple(e[k] for k in key) not in seen]


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def stage_totals(stages: list[dict], t0: float, t1: float, slots: int) -> dict[str, float]:
    """Aggregate one op's new stages (status-store dicts; times in epoch
    ms, CPU in ns) over the op's wall interval ``[t0, t1]`` in seconds.

    ``driver_gap_s`` is the part of the interval during which no stage
    was running; ``busy_share`` is executor run time over the slot time
    the interval offered."""
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    spans = [
        (s["submissionTime"] / 1e3, (s.get("completionTime") or t1 * 1e3) / 1e3)
        for s in ran
        if s.get("submissionTime")
    ]
    run_s = sum(s["executorRunTime"] for s in ran) / 1e3
    cpu_s = sum(s["executorCpuTime"] for s in ran) / 1e9
    wall = t1 - t0
    return {
        "stages": len(ran),
        "tasks": sum(s["numTasks"] for s in ran),
        "exec_run_s": run_s,
        "exec_cpu_s": cpu_s,
        "exec_wait_s": max(0.0, run_s - cpu_s),
        "input_bytes": sum(s["inputBytes"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in ran),
        "output_bytes": sum(s["outputBytes"] for s in ran),
        "driver_gap_s": wall - covered_s(spans, t0, t1),
        "busy_share": run_s / (wall * slots) if wall > 0 else 0.0,
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_s(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# --- live collectors --------------------------------------------------------


class StatusStore:
    """Stage and job lists of the live ``AppStatusStore``, fetched as one
    JSON string per call (one py4j round trip, not one per field)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._jvm = jvm

    def _settle(self) -> None:
        # the status store is fed by the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def stages(self) -> list[dict]:
        self._settle()
        raw = self._store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )
        return json.loads(self._mapper.writeValueAsString(raw))

    def jobs(self) -> list[dict]:
        self._settle()
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))


class Jvm:
    """The driver JVM as seen from its MX beans and ``/proc``."""

    def __init__(self, spark):
        self._spark = spark
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def cpu_s(self) -> float:
        return proc_cpu_s(self.pid, children=False)

    def heap_after_gc_mb(self) -> float:
        self._spark._jvm.java.lang.System.gc()
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def python_worker_cpu_s(self) -> float:
        """CPU of the JVM's Python descendants (pyspark daemon and its
        forked workers), including workers already exited and reaped."""
        return sum(proc_cpu_s(p, children=True) for p in python_descendants(self.pid))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing ')'
    return raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int, children: bool) -> float:
    f = _stat(pid)
    if f is None:
        return 0.0
    # fields 14-17 of proc(5): utime stime cutime cstime; f[0] is field 3
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if children else 0)
    return ticks / _CLK_TCK


def python_descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    out = []
    for pid in parent:
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root and pid != root:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"python" in fh.read().split(b"\0")[0]:
                        out.append(pid)
            except OSError:
                pass
    return out


class StreamStats(StreamingQueryListener):
    """Micro-batch durations and state rows of every streaming query
    that runs while it is registered."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.batch_ms: list[float] = []
        self._state_rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.batch_ms.append(float(p.durationMs.get("triggerExecution", 0)))
            self._state_rows[str(p.id)] = sum(o.numRowsTotal for o in p.stateOperators)

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def drain(self, timeout_s: float = 10.0) -> tuple[list[float], int]:
        """Wait until every started query has reported termination, then
        return and reset (batch durations, final state rows summed over
        queries)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out = (self.batch_ms, sum(self._state_rows.values()))
            self.batch_ms, self._state_rows = [], {}
            return out
