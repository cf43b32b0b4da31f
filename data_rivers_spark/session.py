"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per-job:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to cores rather than the 200 default, Arrow enabled for the
Pandas-UDF slow path, and UTC session time so timestamp semantics are
deployment-independent.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

# name of the registered query being built; plans.registry.query sets it
QUERY_NAME: ContextVar[str | None] = ContextVar("query_name", default=None)


def get_spark(
    app_name: str = "data_rivers_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Env overrides: SPARK_GRAFT_CPUS sets local parallelism and shuffle
    partition count when explicit values are not given.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata (events.ts) uses TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long nanos and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warm_hof_resolution(spark)
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` and end the py4j gateway JVM it runs in.

    ``spark.stop()`` stops only the SparkContext: the gateway JVM that
    pyspark launched stays up, with its heap, until the Python process
    exits. A later ``get_spark`` in the same process launches a new one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_HOF_WARMED: set[str] = set()


def warm_hof_resolution(spark: SparkSession) -> None:
    """Spark 4.1.2 analyzer workaround: the FIRST query in a fresh session
    that resolves a higher-order-function lambda inside a join condition can
    mis-assign lambda-variable ids, letting the optimizer believe a conjunct
    references only one join side; it then pushes the predicate below the
    other side's projections and every task dies with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not find py#9 in [id#139L]").
    Reproduced deterministically with revgeo_timebound_join as the session's
    first analysis; ANY prior lambda resolution inoculates the session, so
    resolve one trivially (collect of a single literal row, sub-100ms, once
    per application — also called from load_tables so externally-built
    sessions, e.g. the verification driver's, are covered)."""
    key = spark.sparkContext.applicationId
    if key in _HOF_WARMED:
        return
    from pyspark.sql import functions as F

    spark.range(1).select(
        F.filter(F.array(F.lit(1)), lambda x: x > 0).alias("__hof_warmup")
    ).collect()
    _HOF_WARMED.add(key)


def fan_out(df, min_frac: float = 0.5):
    """Spread an under-partitioned input across the cluster before expensive
    per-row map work (ray casting, shingling, heavy UDF batches).

    Spark cannot split a parquet file below row-group granularity, so a
    single-row-group file scans as ONE task — every map stage over it runs on
    one core no matter how wide the cluster is. When the input's partition
    count is below ``min_frac × defaultParallelism``, round-robin repartition
    to ``defaultParallelism``; otherwise return the input untouched, so a
    100 TB scan (~800k natural splits) never pays the extra shuffle.

    Deliberately NOT applied blanket in ``load_tables``: for cheap-map
    pipelines (scan→partial-agg, scan→broadcast-probe on simple predicates)
    the full-width shuffle costs more than the parallelism buys (measured:
    TPC-H q01 at sf0.1 regressed 0.99s→1.62s under a blanket rule, while
    ray-cast-bound revgeo improved 5.1s→3.3s). Call it only where per-row
    work dominates the scan.

    Call it before the first exchange, not after: the probe is
    ``plan_partitions``, which executes the shuffle and broadcast stages of
    an AQE plan that holds an exchange (see there). Calling it once per
    step of a chain re-runs every stage the chain has added so far.
    """
    spark = df.sparkSession
    cpus = spark.sparkContext.defaultParallelism
    current = plan_partitions(df)
    if current is None:  # planning failure; let the query surface it
        return df
    if current < max(int(cpus * min_frac), 1):
        return df.repartition(cpus)
    return df


@contextlib.contextmanager
def job_label(spark: SparkSession, label: str):
    """Name every Spark job submitted inside the block ``label``, then
    restore the previous name.

    The name is the job's call site (``JobData.name()`` in the status
    store, readable with ``spark.ui.enabled=false``), not
    ``spark.job.description``: a span tracer owns the description and
    attributes each job by it, and the two live side by side on one job."""
    jsc = spark.sparkContext._jsc
    prev = jsc.getLocalProperty("callSite.short")
    jsc.setCallSite(label)
    try:
        yield
    finally:
        jsc.setCallSite(prev)


def stage(df: DataFrame, name: str, eager: bool = True) -> DataFrame:
    """Stage barrier: localCheckpoint ``df`` (executor block store, lineage
    truncated) under the job name ``<query>:<name>``, where ``<query>`` is
    the registered query being built (``QUERY_NAME``); outside one the name
    is ``<name>``.

    Use it where a frame has several consumers or where a plan must be cut
    (see each call site). ``eager`` runs the checkpoint job now; a lazy
    barrier marks the frame and fills it on its first action, though AQE
    may still run the shuffle stages below it while planning here."""
    query = QUERY_NAME.get()
    with job_label(df.sparkSession, f"{query}:{name}" if query else name):
        return df.localCheckpoint(eager)


_PARTS_MEMO: dict[tuple[str, int], int] = {}
# bounded (r14 advice): the memo grew without limit across a long-lived
# application, and a stale entry can outlive a file-layout change on the
# same path (appended files under an identical semantic plan), letting
# fan_out skip a repartition exactly when the input became under-
# partitioned. The cap bounds the driver-memory footprint and guarantees
# eventual turnover; long-lived sessions re-reading GROWING paths should
# pass explicit partition hints (num_partitions=...) rather than rely on
# the probe (perf-only either way — the memo holds plan metadata, never
# data).
_PARTS_MEMO_MAX = 4096


def plan_partitions(df) -> int | None:
    """Partition count of ``df``'s physical plan, memoized on
    (applicationId, semanticHash).

    The naive probe (``df.rdd.getNumPartitions()``) runs full analysis +
    optimization + physical planning plus Python-RDD wrapper setup —
    measured 130-190 ms of driver time per call on HOF-heavy plans, paid at
    PLAN TIME by every fan_out/shingle caller, once per query construction
    (bench iterations and composite operators rebuild semantically
    identical frames over and over). Two fixes (r13): go through
    ``queryExecution().toRdd()`` directly (~40% cheaper, no Python RDD),
    and memoize on the frame's semantic hash so repeats cost one analysis
    pass (~20-60 ms). The memo holds plan METADATA (an int), never data or
    results, and is keyed per Spark application; a hash collision could
    only skip/add a repartition — a performance decision, not a
    correctness one. Returns None when planning itself fails (caller
    passes the frame through untouched and lets the action surface the
    real error).

    Measured cost: free of Spark jobs only on a plan without an exchange.
    With AQE on, ``toRdd()`` of a plan that holds an exchange runs
    ``AdaptiveSparkPlanExec``, which materializes every shuffle and
    broadcast stage while the query is still being built; the count it
    returns is then the AQE-coalesced one. Measured on a 4-core VM, with
    ``revgeo_multi_zone`` probing each of its 8 joins: one civic cold op
    (backfill plus one hourly merge, ~50 s) spent 16 probes, 70 jobs and
    ~24 s in here; probing its input once, 2 probes, 0 jobs and ~0.6 s.
    Probe before the first exchange."""
    try:
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
        n = _PARTS_MEMO.get(key)
        if n is None:
            n = df._jdf.queryExecution().toRdd().getNumPartitions()
            if len(_PARTS_MEMO) >= _PARTS_MEMO_MAX:
                # FIFO eviction (insertion-ordered dict): drop the oldest
                # half so turnover is amortized, not per-insert
                for k in list(_PARTS_MEMO)[: _PARTS_MEMO_MAX // 2]:
                    del _PARTS_MEMO[k]
            _PARTS_MEMO[key] = n
        return n
    except Exception:  # noqa: BLE001 - fall back to the public API once
        try:
            return df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001
            return None


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the driver's parquet tables and register temp views.

    Returns {name: DataFrame}. Views let operators be written in either the
    DataFrame or SQL API against the same catalog names DuckDB uses.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    from pyspark.sql import functions as F

    # the driver testdata's events.ts is TIMESTAMP(NANOS) which Spark's reader
    # rejects; this SQL conf is runtime-settable, so enforce it here rather
    # than relying on the session builder (an externally-built SparkSession —
    # e.g. the verification driver's — won't have it)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - conf may be locked; reads then fail loudly
        pass
    warm_hof_resolution(spark)

    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS) read as long via nanosAsLong: truncate to micros
            # (matches DuckDB's ns→µs truncation) and restore TimestampType
            # integer div — double division loses precision above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # parquet timestamps written without isAdjustedToUTC read back as
        # TIMESTAMP_NTZ, which Spark 4 refuses to cast to numeric types; the
        # session runs in UTC so NTZ→LTZ is value-preserving. Normalize so every
        # downstream cast/epoch expression sees plain TimestampType regardless
        # of how the driver generated the files.
        for cname, dtype in df.dtypes:
            if dtype == "timestamp_ntz":
                df = df.withColumn(cname, F.col(cname).cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
