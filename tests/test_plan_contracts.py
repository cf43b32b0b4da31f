"""Physical-plan structure contracts for headline queries.

Correctness gates catch wrong ANSWERS; nothing so far caught a wrong PLAN —
an accidental extra shuffle, a lost filter pushdown, or a join degrading to
a cartesian product still returns correct rows at sf0.01 while dying at
100 TB. These tests pin the structural facts each operator's scale design
claims (zero shuffles for per-row ops, exactly one for single-window ops,
broadcast not cartesian for the query-set joins, pushdown + pruning at the
scan), so a plan regression fails CI instead of surfacing as a bench delta
two rounds later.

Only config-independent facts are asserted: Exchange NODE counts (not
partition counts), operator presence, scan-level pushdown/pruning. Join
STRATEGY (broadcast-hash vs sort-merge) is asserted only where the operator
forces it with an explicit broadcast() hint.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

SF_DIR = "/root/testdata/sf0.001"  # plan shape is SF-independent; cheapest


def _plan(spark, name: str) -> str:
    from data_rivers_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchanges(plan: str, dp: int | None = None) -> int:
    # numbered physical nodes only — not BroadcastExchange (broadcasts are
    # asserted separately; they don't repartition the fact side). The
    # conditional fan_out round-robin (session.fan_out, r13) is also
    # excluded: it fires ONLY when the input is under-partitioned — true at
    # this fixture's single-split sf0.001 parquet, a no-op on a well-split
    # production scan — so it is not a scale-relevant shuffle. Hash/range
    # exchanges (the ones a join/agg/window regression would add) always
    # count: an accidental repartition(n, key) is hashpartitioning, and an
    # orderBy is rangepartitioning, neither matches the REPARTITION_BY_NUM
    # round-robin signature. ``dp`` narrows the exclusion to fan_out's
    # EXACT signature — RoundRobinPartitioning(defaultParallelism) — so an
    # accidental unconditional df.repartition(n) at any other count still
    # fails the contract (r14 advice; an unconditional repartition at
    # exactly defaultParallelism remains the one invisible case).
    total = len(re.findall(r"\(\d+\) Exchange\b", plan))
    n = r"\d+" if dp is None else str(int(dp))
    fanout = len(
        re.findall(rf"RoundRobinPartitioning\({n}\), REPARTITION_BY_NUM", plan)
    )
    return total - fanout


# per-row / shuffle-free operators: ANY Exchange is a regression
ZERO_SHUFFLE = [
    "q_chunk_documents",
    "q_c4_filter",
    "q_token_count",
    "q_deterministic_sample",
    "q_remove_repeated_lines",
    "q_nfc_normalize",
    "q_weighted_topk_sample",  # A-ES via TakeOrderedAndProject, no sort
]

# one-shuffle operators: the single hash repartition their window/agg needs
ONE_SHUFFLE = [
    "q_chunk_pack",       # window over shard
    "q_dedup_latest",     # window over key
    "q_asof_nearest",     # union + window over by-key (both frames, 1 sort)
    "q06_forecast_revenue",  # partial agg -> SinglePartition final
]

# queries whose pair/zone joins must never degrade to a cartesian product
NO_CARTESIAN = ZERO_SHUFFLE + ONE_SHUFFLE + [
    "q01_pricing_summary",
    "q_exact_dedup",
    "q_minhash_lsh_dedup",
    "q_paragraph_dedup",
    "q_cosine_topk",
    "q_revgeo_timebound",
    "q_perplexity_buckets",
    "q_top_k_types",
]


@pytest.mark.parametrize("name", ZERO_SHUFFLE)
def test_zero_shuffle(spark, name):
    plan = _plan(spark, name)
    dp = spark.sparkContext.defaultParallelism
    assert _exchanges(plan, dp) == 0, f"{name} gained a shuffle:\n{plan}"


@pytest.mark.parametrize("name", ONE_SHUFFLE)
def test_single_shuffle(spark, name):
    plan = _plan(spark, name)
    dp = spark.sparkContext.defaultParallelism
    assert _exchanges(plan, dp) == 1, f"{name} shuffle count changed:\n{plan}"


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_product(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} went cartesian:\n{plan}"


def test_q06_pushdown_and_pruning(spark):
    plan = _plan(spark, "q06_forecast_revenue")
    scan = plan.split("(1) Scan parquet")[1].split("\n(2)")[0]
    assert "PushedFilters: [" in scan and "PushedFilters: []" not in scan
    assert "l_shipdate" in scan.split("PushedFilters:")[1].split("ReadSchema")[0]
    # column pruning: 4 needed columns, not lineitem's 16
    assert re.search(r"Output \[4\]", scan), scan


def test_q01_agg_shape(spark):
    # partial agg below the exchange (map-side combine), final above; at
    # most 2 exchanges total (agg + result ordering)
    plan = _plan(spark, "q01_pricing_summary")
    assert "partial_sum" in plan
    assert _exchanges(plan, spark.sparkContext.defaultParallelism) <= 2, plan


def test_broadcast_joins_forced(spark):
    # operators that broadcast() a small side must plan a broadcast join on
    # it — the fact side never hash-repartitions on the join key
    plan = _plan(spark, "q_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        f"q_cosine_topk lost its broadcast:\n{plan}"
    )
    # revgeo attaches its small zone table with a projection, the stronger
    # form of the same contract: the executed plan holds no join at all, so
    # nothing is broadcast and the fact side is never hash-repartitioned
    from data_rivers_spark.plans import registry

    df = registry.QUERIES["q_revgeo_timebound"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert not re.search(r"Join|CartesianProduct|BroadcastExchange|hashpartitioning",
                         executed), executed


def test_chunk_documents_single_codegen_stage(spark):
    # the whole chunker must stay inside whole-stage codegen — a UDF or a
    # non-codegen expression sneaking in would split the span
    plan = _plan(spark, "q_chunk_documents")
    # formatted mode marks codegen membership with "[codegen id : N]"
    assert "[codegen id :" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stage_is_the_only_localcheckpoint_site():
    """One stage barrier: every checkpoint in the package goes through
    ``session.stage``, so every barrier job carries a ``<query>:<stage>``
    name. (Tests and the frozen perfbench tracer are out of scope.)"""
    import ast
    import pathlib

    import data_rivers_spark
    from data_rivers_spark import session

    root = pathlib.Path(data_rivers_spark.__file__).parent
    fn = next(n for n in ast.parse(pathlib.Path(session.__file__).read_text()).body
              if isinstance(n, ast.FunctionDef) and n.name == "stage")
    allowed = range(fn.lineno, fn.end_lineno + 1)
    stray = [
        f"{path.relative_to(root.parent)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
        and not (path.samefile(session.__file__) and i in allowed)
    ]
    assert not stray, f"checkpoint outside session.stage: {stray}"


def _barrier_jobs(spark, build) -> dict[int, str]:
    """Run ``build()`` with every DataFrame.localCheckpoint call spied on;
    return {job id: job name} of the jobs those calls submitted, read from
    the status store (works with the UI off)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    jsc = spark.sparkContext._jsc.sc()
    dag = jsc.dagScheduler()
    ids: set[int] = set()
    orig = ClassicDataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        first = dag.nextJobId()
        try:
            return orig(self, *args, **kwargs)
        finally:
            ids.update(range(first, dag.nextJobId()))

    ClassicDataFrame.localCheckpoint = spy
    try:
        build()
    finally:
        ClassicDataFrame.localCheckpoint = orig
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    names = {jobs.apply(i).jobId(): jobs.apply(i).name() for i in range(jobs.length())}
    return {j: names.get(j) for j in ids}


def test_stage_barrier_jobs_are_named_query_stage(spark):
    from data_rivers_spark.plans import registry

    registry.load_all()
    query = "q_minhash_lsh_dedup"
    jobs = _barrier_jobs(
        spark, lambda: registry.QUERIES[query](spark, SF_DIR).collect()
    )
    stages = {name.split(":", 1)[1] for name in jobs.values()
              if name and name.startswith(f"{query}:")}
    assert len(stages) >= 2, jobs
    bad = {j: n for j, n in jobs.items() if not re.fullmatch(rf"{query}:\w+", n or "")}
    assert not bad, f"barrier jobs without a {query}:<stage> name: {bad}"
    # the spec verb is a stage barrier too
    jobs = _barrier_jobs(
        spark, lambda: registry.QUERIES["q_spec_select_mix"](spark, SF_DIR)
    )
    assert "q_spec_select_mix:materialize" in jobs.values(), jobs
