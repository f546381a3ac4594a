"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload i94_etl --seed 1 --seconds 10 --trace 0

Load model: a closed loop. One client (this process) drives one
``local[4]`` Spark JVM; a pass runs every op of the workload once, back
to back, each through its real sink, and the next pass starts when the
previous one ends. Set-up (engine import, session start, input
generation, DuckDB reference results, :data:`WARMUP_PASSES` warm-up
passes) is timed as ``setup_s``; passes then repeat for ``--seconds`` and at least
:data:`MIN_PASSES` times (four in a traced run). Every pass's outputs
are checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` interleaves
untraced and traced passes: traced passes record spans around the calls
into the engine and read the status store, MX beans and ``/proc``
around each op; it prints the per-layer metrics, including the tracing
overhead (traced minus untraced pass wall time). The last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from probes import (
    Jvm,
    StatusStore,
    StreamStats,
    new_entries,
    python_descendants,
    stage_totals,
)
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = 4
MIN_PASSES = 2
WARMUP_PASSES = 2

# per-layer metrics: name -> unit (every workload prints all of them;
# a layer the workload does not exercise reads 0)
LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.exec_wait_s": "s",
    "spark.busy_share": "ratio",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.output_bytes": "B",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "python.worker_cpu_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.state_rows": "count",
    "i94.load_s": "s",
    "i94.plan_s": "s",
    "i94.dq_s": "s",
    "i94.fact_write_s": "s",
    "i94.dim_write_s": "s",
    "i94.self_s": "s",
    "sources.fact_scan_tasks": "count",
    "sink.files_written": "count",
    "sink.bytes_written": "B",
    "sink.partition_dirs": "count",
    "session.persisted_rdds": "count",
    "session.temp_views": "count",
    "trace.overhead_s": "s",
}


def layer_units(ops) -> dict[str, str]:
    """Every per-layer metric with its unit, given every workload's ops."""
    out = dict(LAYER_UNITS)
    for op in ops:
        out.update({f"op.{op}.s": "s", f"op.{op}.jobs": "count", f"op.{op}.stages": "count"})
    return out


STAGE_FIELDS = (
    "stages", "tasks", "exec_run_s", "exec_cpu_s", "exec_wait_s", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "driver_gap_s",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(tmp: str, work: str):
    from pyspark.sql import SparkSession

    from udacity_data_engineer_capstone_spark.session import configure

    builder = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM it launched and the JVM's Python workers, and
    wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = python_descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


class Bench:
    """One run: the workload, its passes, and what each pass measured."""

    def __init__(self, spark, workload, trace: bool, run_id: str):
        self.spark, self.wl = spark, workload
        self.tracer = Tracer(run_id)
        self.store = StatusStore(spark)
        self.jvm = Jvm(spark)
        self.attempted = 0
        self.failed = 0
        self.walls = {False: [], True: []}  # traced? -> pass walls
        self.layers: list[dict] = []  # one dict per traced pass
        self.stream = None
        if trace:
            self.stream = StreamStats()
            spark.streams.addListener(self.stream)

    # -- one op -------------------------------------------------------------

    @contextlib.contextmanager
    def _op(self, name: str, failures: set, records: list | None):
        self.attempted += 1
        if records is None:
            try:
                yield
            except Exception:
                traceback.print_exc()
                failures.add(name)
            return
        stages0, jobs0 = self.store.stages(), self.store.jobs()
        if self.stream:
            self.stream.drain(0)
        gc0, cpu0, py0 = self.jvm.gc_s(), self.jvm.cpu_s(), self.jvm.python_worker_cpu_s()
        t0 = time.time()
        try:
            with self.tracer.span(f"op:{name}"):
                yield
        except Exception:
            traceback.print_exc()
            failures.add(name)
        t1 = time.time()
        stages = new_entries(stages0, self.store.stages(), ("stageId", "attemptId"))
        rec = stage_totals(stages, t0, t1, SLOTS)
        rec.update(
            op=name,
            s=t1 - t0,
            jobs=len(new_entries(jobs0, self.store.jobs(), ("jobId",))),
            gc_s=self.jvm.gc_s() - gc0,
            cpu_s=self.jvm.cpu_s() - cpu0,
            py_s=self.jvm.python_worker_cpu_s() - py0,
            scan_tasks=max(stages, key=lambda s: s["inputBytes"])["numTasks"] if stages else 0,
        )
        if self.stream:
            rec["batch_ms"], rec["state_rows"] = self.stream.drain()
        records.append(rec)

    # -- one pass -----------------------------------------------------------

    def run_pass(self, traced: bool) -> float:
        failures: set = set()
        records = [] if traced else None
        first_span = len(self.tracer.spans)
        with contextlib.ExitStack() as stack:
            if traced:
                for owner, names, label in self.wl.trace_points():
                    stack.enter_context(self.tracer.wrap(owner, names, label))
                stack.enter_context(self.tracer.span("pass"))
            t = time.perf_counter()
            self.wl.run_pass(lambda op: self._op(op, failures, records))
            wall = time.perf_counter() - t
        try:
            failures |= set(self.wl.check())
        except Exception:  # an unreadable output fails every op of the pass
            traceback.print_exc()
            failures |= set(self.wl.ops)
        self.failed += len(failures)
        if traced:
            self.layers.append(self._pass_layers(records, self.tracer.spans[first_span:]))
        return wall

    def _pass_layers(self, records: list[dict], spans: list[dict]) -> dict:
        m = {f"spark.{k}": sum(r[k] for r in records) for k in STAGE_FIELDS}
        walls = sum(r["s"] for r in records)
        m["spark.jobs"] = sum(r["jobs"] for r in records)
        m["spark.busy_share"] = m["spark.exec_run_s"] / (walls * SLOTS) if walls else 0.0
        m["jvm.gc_s"] = sum(r["gc_s"] for r in records)
        m["jvm.cpu_s"] = sum(r["cpu_s"] for r in records)
        m["python.worker_cpu_s"] = sum(r["py_s"] for r in records)
        batches = [b for r in records for b in r.get("batch_ms", [])]
        m["streaming.batches"] = len(batches)
        m["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
        m["streaming.state_rows"] = sum(r.get("state_rows", 0) for r in records)
        for r in records:
            m[f"op.{r['op']}.s"] = r["s"]
            m[f"op.{r['op']}.jobs"] = r["jobs"]
            m[f"op.{r['op']}.stages"] = r["stages"]
        m.update(self.wl.layer_metrics(spans, records))
        return m

    def layer_metrics(self, names) -> dict[str, float]:
        out = {k: 0.0 for k in names}
        for k in set().union(*self.layers) if self.layers else ():
            out[k] = statistics.median(p.get(k, 0.0) for p in self.layers)
        sc = self.spark.sparkContext._jsc.sc()
        out["session.persisted_rdds"] = sc.getPersistentRDDs().size()
        out["session.temp_views"] = sum(t.isTemporary for t in self.spark.catalog.listTables())
        if self.walls[True] and self.walls[False]:
            out["trace.overhead_s"] = statistics.median(self.walls[True]) - statistics.median(
                self.walls[False]
            )
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_setup = time.perf_counter()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with the same pid
    os.makedirs(tmp)
    # everything the engine, Spark and DuckDB spill stays in the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        import udacity_data_engineer_capstone_spark as engine

        engine.load_all()
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        spark = start_session(tmp, work)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.generate()
        wl.prepare_oracle()
        bench = Bench(spark, wl, bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
        for _ in range(WARMUP_PASSES):  # caches fill, lazy set-up and JIT settle
            bench.run_pass(traced=False)
        setup_s = time.perf_counter() - t_setup
        bench.attempted = bench.failed = 0  # the warm-up is set-up, not a sample

        t0, n, heap_mb = time.perf_counter(), 0, None
        # traced runs go untraced, traced, traced, untraced (and repeat),
        # so a pass-to-pass warm-up drift cancels out of the overhead
        min_passes = 4 if args.trace else MIN_PASSES
        while n < min_passes or time.perf_counter() - t0 < args.seconds:
            traced = bool(args.trace) and n % 4 in (1, 2)
            bench.walls[traced].append(bench.run_pass(traced))
            n += 1
            if n == MIN_PASSES:  # a fixed pass count, so leaks compare across runs
                heap_mb = bench.jvm.heap_after_gc_mb()

        wall_s = statistics.median(bench.walls[False])
        if args.trace:
            units = layer_units(op for w in WORKLOADS.values() for op in w.ops)
            metrics = {k: {"value": v, "unit": units[k]} for k, v in bench.layer_metrics(units).items()}
            bench.tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall_s, "unit": "s"},
                "rows_per_s": {"value": wl.input_rows / wall_s, "unit": "1/s"},
                "retained_heap_mb": {"value": heap_mb, "unit": "MB"},
            }
        print(
            f"{args.workload} seed={args.seed}: setup_s={setup_s:.3f} s, "
            f"wall_s={wall_s:.3f} s (median of {len(bench.walls[False])} untraced passes: "
            f"{', '.join(f'{w:.3f}' for w in bench.walls[False])}), "
            f"rows_per_s={wl.input_rows / wall_s:.1f} 1/s, retained_heap_mb={heap_mb:.1f} MB, "
            f"error_rate={bench.failed / bench.attempted:.4f} ({bench.failed}/{bench.attempted} ops)"
        )
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
