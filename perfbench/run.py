"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload civic_daily --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from ``--seed``, sets up a SparkSession
through the program's own ``get_spark`` and ``registry.load_all``, runs one
cold op, then warm ops until ``--seconds`` have passed since the cold op
started, checks every op's outputs, and prints one JSON object as the last
stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds at least one
untraced and one traced warm op and reports the per-layer metrics of the
traced ones plus the tracing overhead. A line starting with ``# meta``
before the result carries metadata (host-speed anchor, input sizes, wall
times, raw samples). ``--size`` overrides the workload's input size (the
smoke test uses it).
"""

import time

_T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
from collections import Counter  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# default input size per workload: hourly batch records, warehouse scale
# relative to sf0.1, corpus documents (see README: run budget)
SIZES = {"civic_daily": 500, "warehouse_read": 0.1, "curation": 600}
ANCHOR_ROWS = 100_000_000


def _env(root: str, work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and pin
    the session to the host's 4 cores and a 2 GB driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(os.cpu_count() or 4, 4)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    sys.path[:0] = [root, os.path.join(root, "tools"), HERE]


def _setup():
    from data_rivers_spark.plans import registry
    from data_rivers_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    registry.load_all()
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _anchor(spark) -> float:
    """Host-speed anchor: bench.py's calibration expression (bit_xor of
    xxhash64 over a range) at 1/10 of its range, run once after the ops."""
    t0 = time.perf_counter()
    spark.range(ANCHOR_ROWS).selectExpr("bit_xor(xxhash64(id)) AS x").collect()
    return time.perf_counter() - t0


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the Spark JVM (every
    thread: drivers, executors, JIT and GC)."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()


class _Runner:
    def __init__(self, wl, jvm, jvm_pid: int):
        self.wl = wl
        self.jvm = jvm
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.check_s = 0.0
        self.failures: list[str] = []

    def run_op(self, tracer=None) -> tuple[float, float, float, float]:
        """One timed op; returns (wall s, CPU s, peak heap MB, stage
        executor CPU s). An op that raises, or whose untimed output check
        fails or raises, counts as failed."""
        from spans import stage_cpu_s

        self.attempted += 1
        self.jvm.reset_peaks()
        s0 = stage_cpu_s(self.wl.spark)
        c0 = _cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        measured = None

        def measure():
            return (time.perf_counter() - t0, _cpu_s(self.jvm_pid) - c0,
                    self.jvm.peak_heap_mb(), stage_cpu_s(self.wl.spark) - s0)

        try:
            out = self.wl.op(tracer)
            measured = measure()
            c1 = time.perf_counter()
            problems = self.wl.check(out)
            self.check_s += time.perf_counter() - c1
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            problems = [f"{type(e).__name__}: {e}"]
        if measured is None:
            measured = measure()
        if problems:
            self.failures.append(f"op {self.attempted}: {problems}"[:400])
        return measured

    def more(self, deadline: float) -> bool:
        return time.perf_counter() < deadline and not self.wl.exhausted


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=None)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_rivers_spark", "session.py")):
        print("perfbench: run from the repository root (data_rivers_spark/ not found)",
              file=sys.stderr)
        return 2
    if args.workload is None:
        ap.error("--workload is required")

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(root, work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    spark = _setup()
    setup_s = time.perf_counter() - _T0
    try:
        from bench import _JvmTelemetry

        from workloads import WORKLOADS

        size = args.size if args.size is not None else SIZES[args.workload]
        wl = WORKLOADS[args.workload](spark, work, args.seed, size)
        t0 = time.perf_counter()
        wl.prepare()
        meta: dict = {"workload": args.workload, "seed": args.seed,
                      "input": wl.input_desc, "prepare_s": time.perf_counter() - t0}
        runner = _Runner(wl, _JvmTelemetry(spark), spark.sparkContext._gateway.proc.pid)

        deadline = time.perf_counter() + args.seconds
        cold_s, cold_cpu_s, peak, cold_stage_cpu_s = runner.run_op()
        # wall times are one sample per run and swing with the shared
        # host's load (see README), so they are reported here, not gated
        meta.update(cold_op_s=cold_s, peak_heap_mb=peak, cold_op_stage_cpu_s=cold_stage_cpu_s)
        if args.trace:
            metrics = _traced_ops(spark, args.workload, runner, deadline, meta)
        else:
            warm = []
            while runner.more(deadline):
                warm.append(runner.run_op())
            meta.update(warm_op_s=[w[0] for w in warm], warm_op_cpu_s=[w[1] for w in warm])
            if warm:
                meta["rows_per_s"] = wl.records_per_op / statistics.median(w[0] for w in warm)
            metrics = {"cold_op_cpu_s": _metric(cold_cpu_s, "s")}
        meta["anchor_xxhash64_100m_s"] = _anchor(spark)
    finally:
        _stop(spark)
    meta["check_s"] = runner.check_s
    meta["failures"] = runner.failures

    failed = len(runner.failures)
    if not args.trace:
        metrics = {"setup_s": _metric(setup_s, "s"), **metrics,
                   "ok_frac": _metric(1.0 - failed / runner.attempted, "ratio")}
    print("# meta " + json.dumps(meta))
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _traced_ops(spark, workload: str, runner: _Runner, deadline: float, meta: dict) -> dict:
    """Alternate untraced and traced warm ops; per-layer numbers are means
    per traced op."""
    from data_rivers_spark.operators import (
        dedup, geo, importance, relational, sampling, textstats, transforms,
    )
    from data_rivers_spark.sources import ndjson
    from spans import LAYER_FIELDS, Tracer
    from workloads import EXTRA_METRICS

    modules = [(ndjson, "sources", None), (transforms, "transforms", None),
               (geo, "geo", None), (relational, "relational", None),
               (textstats, "textstats", None), (dedup, "dedup", "_dedup"),
               (importance, "importance", None), (sampling, "sampling", None)]
    tracer = Tracer(spark, workload)
    gc = runner.jvm
    plain, traced, gc_s = [], [], 0.0
    while not traced or runner.more(deadline):
        plain.append(runner.run_op()[0])
        if runner.wl.exhausted:
            break
        saved = [s for m, layer, suffix in modules
                 for s in tracer.wrap_module(m, layer, suffix)]
        gc0 = gc.gc_ms()
        try:
            sec = runner.run_op(tracer)[0]
        finally:
            Tracer.unwrap(saved)
        gc_s += (gc.gc_ms() - gc0) / 1000.0
        traced.append(sec)
        tracer.harvest()
    n = len(traced)
    metrics = {}
    for layer, row in tracer.layer_totals().items():
        for k, v in row.items():
            metrics[f"{layer}.{k}"] = _metric(v / n, LAYER_FIELDS[k])
    extras = runner.wl.layer_metrics()
    for name, unit in EXTRA_METRICS.items():
        metrics[name] = _metric(extras.get(name, 0.0), unit)
    counts = tracer.layer_counts("dedup")
    rows_in = counts.get("rows_in", 0)
    metrics["dedup.docs_dropped_frac"] = _metric(
        1.0 - counts.get("rows_out", 0) / rows_in if rows_in else 0.0, "ratio")
    metrics["jvm.gc_s"] = _metric(gc_s / n, "s")
    untraced_s, traced_s = statistics.median(plain), statistics.median(traced)
    metrics["trace.untraced_op_s"] = _metric(untraced_s, "s")
    metrics["trace.traced_op_s"] = _metric(traced_s, "s")
    metrics["trace.overhead_s"] = _metric(traced_s - untraced_s, "s")
    meta["untraced_op_s"], meta["traced_op_s"] = plain, traced
    meta["spans_by_layer"] = dict(Counter(sp.layer for sp in tracer.spans))
    meta["spans"] = [
        {"id": sp.sid, "parent": sp.parent, "name": f"{sp.layer}.{sp.fn}",
         "start": round(sp.start, 3), "end": round(sp.end, 3), "jobs": sp.jobs,
         "tasks": sp.tasks, "executor_cpu_s": round(sp.cpu_s, 3), **sp.counts}
        for sp in tracer.spans
    ]
    return metrics


if __name__ == "__main__":
    sys.exit(main())
