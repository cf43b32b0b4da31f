"""Span tracer that attributes wall time and Spark stage metrics to layers.

A span wraps one call at a layer boundary (``<layer>.<fn>``). While it is
open, every Spark job it submits carries the job group
``<workload>:<layer>.<fn>`` and the job description
``<workload>:<layer>.<fn>#<span id>``. A span that returns a DataFrame
localCheckpoints it before closing, so the layer's lazy work executes
inside the layer's own span. After each op the tracer reads the jobs and
stages of that op from the Spark status store (``AppStatusStore``, which
works with the UI off) and attributes each stage to its span by the
description. Spans nest and are kept in memory; ``layer_totals`` folds them
into per-layer numbers.

Self time of a span is its wall time minus the wall time of its children;
driver time is self time minus the time any job tagged to the span was
running (planning, py4j and Python work on the driver).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

LAYERS = [
    "sources", "transforms", "geo", "relational", "catalog", "plans",
    "textstats", "dedup", "importance", "sampling", "sink",
]
# per-layer field -> unit
LAYER_FIELDS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
                "executor_run_s": "s", "executor_cpu_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB"}

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    layer: str
    fn: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    children_s: float = 0.0
    job_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return max(self.end - self.start - self.children_s, 0.0)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.length())]


class Tracer:
    """Collects spans for one workload in one SparkSession."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, fn, parent.sid if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        tag = f"{self.workload}:{layer}.{fn}"
        self.sc.setLocalProperty(_GROUP, tag)
        self.sc.setLocalProperty(_DESC, f"{tag}#{sp.sid}")
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.end - sp.start
                ptag = f"{self.workload}:{parent.layer}.{parent.fn}"
                self.sc.setLocalProperty(_GROUP, ptag)
                self.sc.setLocalProperty(_DESC, f"{ptag}#{parent.sid}")
            else:
                self.sc.setLocalProperty(_GROUP, None)
                self.sc.setLocalProperty(_DESC, None)

    def call(self, layer: str, fn_name: str, thunk, materialize: bool = True,
             count_input: DataFrame | None = None):
        """Run ``thunk()`` inside a span. With ``materialize``, DataFrame
        results (alone or inside a tuple) are localCheckpointed inside the
        span. With ``count_input``, the rows of that input and of the
        (first) DataFrame result are counted outside the span's time and
        kept in ``span.counts``."""
        rows_in = self._count(count_input) if count_input is not None else None
        with self.span(layer, fn_name) as sp:
            out = thunk()
            if materialize:
                out = _materialize(out)
        first = out[0] if isinstance(out, tuple) and out else out
        if rows_in is not None and isinstance(first, DataFrame):
            sp.counts["rows_in"] = rows_in
            sp.counts["rows_out"] = self._count(first)
        return out

    def wrap_module(self, module, layer: str, count_suffix: str | None = None):
        """Replace every public function defined in ``module`` by a traced
        wrapper; return the (module, name, original) list for ``unwrap``.
        Outermost calls of functions whose name ends in ``count_suffix``
        count rows in (first DataFrame argument) and out."""
        saved = []
        for name, fn in list(vars(module).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            counted = count_suffix is not None and name.endswith(count_suffix)
            setattr(module, name, self._traced(layer, name, fn, counted))
            saved.append((module, name, fn))
        return saved

    def _traced(self, layer: str, name: str, fn, counted: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            count_input = None
            if counted and args and isinstance(args[0], DataFrame) and not any(
                s.layer == layer for s in self._stack
            ):
                count_input = args[0]
            return self.call(layer, name, lambda: fn(*args, **kwargs),
                             count_input=count_input)

        return traced

    def _count(self, df: DataFrame) -> int:
        """Row count run under an untraced job tag, so no span owns it."""
        group, desc = self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_GROUP, f"{self.workload}:trace.count")
        self.sc.setLocalProperty(_DESC, f"{self.workload}:trace.count")
        try:
            return df.count()
        finally:
            self.sc.setLocalProperty(_GROUP, group)
            self.sc.setLocalProperty(_DESC, desc)

    @staticmethod
    def unwrap(saved) -> None:
        for module, name, fn in saved:
            setattr(module, name, fn)

    # -- status store ---------------------------------------------------------

    def harvest(self) -> None:
        """Attribute the jobs and stages finished since the last harvest to
        their spans (matched by the ``#<span id>`` description suffix)."""
        by_sid = {sp.sid: sp for sp in self.spans}
        intervals: dict[int, list[tuple[float, float]]] = {}
        stage_owner: dict[int, Span] = {}
        jobs = {job.jobId(): job for job in _seq(self._store.jobsList(None))}
        # oldest first: a stage reused (skipped) by a later job stays owned
        # by the job that ran it
        for jid in sorted(set(jobs) - self._seen_jobs):
            job = jobs[jid]
            self._seen_jobs.add(jid)
            sp = _owner(by_sid, _opt(job.description()))
            if sp is None:
                continue
            sp.jobs += 1
            t0, t1 = _opt(job.submissionTime()), _opt(job.completionTime())
            if t0 is not None and t1 is not None:
                intervals.setdefault(sp.sid, []).append(
                    (t0.getTime() / 1000.0, t1.getTime() / 1000.0))
            for st in _seq(job.stageIds()):
                if st not in self._seen_stages:
                    stage_owner.setdefault(st, sp)
        if stage_owner:
            for st in _seq(self._store.stageList(None, False, False, self._no_quantiles, None)):
                sp = stage_owner.get(st.stageId())
                if sp is None:
                    continue
                self._seen_stages.add(st.stageId())
                sp.tasks += st.numCompleteTasks()
                sp.run_s += st.executorRunTime() / 1000.0
                sp.cpu_s += st.executorCpuTime() / 1e9
                sp.shuffle_write_b += st.shuffleWriteBytes()
                sp.spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for sid, ivs in intervals.items():
            by_sid[sid].job_s += _union_len(ivs)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        out = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
        for sp in self.spans:
            row = out.setdefault(sp.layer, dict.fromkeys(LAYER_FIELDS, 0.0))
            row["wall_s"] += sp.self_s
            row["driver_s"] += max(sp.self_s - sp.job_s, 0.0)
            row["jobs"] += sp.jobs
            row["tasks"] += sp.tasks
            row["executor_run_s"] += sp.run_s
            row["executor_cpu_s"] += sp.cpu_s
            row["shuffle_write_mb"] += sp.shuffle_write_b / 1e6
            row["spill_mb"] += sp.spill_b / 1e6
        return out

    def layer_counts(self, layer: str) -> dict[str, float]:
        total: dict[str, float] = {}
        for sp in self.spans:
            if sp.layer == layer:
                for k, v in sp.counts.items():
                    total[k] = total.get(k, 0) + v
        return total


def stage_cpu_s(spark) -> float:
    """Sum of ``executorCpuTime`` over every stage the status store holds:
    CPU time of task threads only, without driver planning, JIT or GC."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return sum(st.executorCpuTime() for st in _seq(stages)) / 1e9


def _owner(by_sid: dict[int, Span], desc: str | None) -> Span | None:
    if not desc or "#" not in desc:
        return None
    try:
        return by_sid.get(int(desc.rsplit("#", 1)[1]))
    except ValueError:
        return None


def _union_len(ivs: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _materialize(out):
    if isinstance(out, DataFrame) and not out.isStreaming:
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_materialize(x) for x in out)
    return out
