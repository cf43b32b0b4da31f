"""Analytics coverage beyond the reference's SQL surface: session windows,
window frames (running totals, lag deltas), pivot, plus the reference's
data-quality diff and false-parent demotion — all under the oracle gate.

The reference has no frame-spec windows or sessions (SURVEY §2.6); these are
the Spark-native extensions a migrating user expects from an analytics engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_rivers_spark.operators import relational as R
from data_rivers_spark.plans.registry import query
from data_rivers_spark.session import load_tables, stage


@query(
    "q_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM numbered GROUP BY user_id, session_no
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via Spark's native
    session_window — the batch twin of streaming sessionization. The oracle
    states the classic gaps-and-islands formulation."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )


@query(
    "q_running_total",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2)
             AS running_value
    FROM events
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window: per-user running sum (ROWS UNBOUNDED PRECEDING)."""
    t = load_tables(spark, sf_dir, ["events"])
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["events"].select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


@query(
    "q_lag_delta",
    oracle="""
    SELECT user_id, event_id,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) -
             LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS secs_since_prev
    FROM events
    """,
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gap per user."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    return t["events"].select(
        "user_id", "event_id", (sec - F.lag(sec).over(w)).alias("secs_since_prev")
    )


@query(
    "q_pivot_monthly",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (status columns per priority) — groupBy().pivot() with explicit
    value list so the plan needs no extra distinct-scan pass."""
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "q_dq_new_values",
    oracle="""
    SELECT o_orderpriority FROM (
      SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL
    ) WHERE o_orderpriority NOT IN (
      SELECT DISTINCT o_orderpriority FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderpriority NOT LIKE '1-%'
    )
    ORDER BY o_orderpriority
    """,
)
def q_dq_new_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality distinct-diff: values present in the fresh reference table
    but not the stored one (airflow_utils.py:354-391)."""
    t = load_tables(spark, sf_dir, ["orders"])
    new_ref = t["orders"]
    old_ref = t["orders"].filter(~F.col("o_orderpriority").like("1-%"))
    return R.data_quality_new_values(new_ref, old_ref, ["o_orderpriority"])


@query(
    "q_remove_false_parents",
    oracle="""
    WITH linked AS (
      SELECT o_orderkey AS group_id, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
    ), incoming AS (
      SELECT o_orderkey AS ticket_id, (o_orderkey % 3 = 0) AS child_ticket FROM orders
    )
    SELECT group_id FROM linked
    WHERE group_id NOT IN (
      SELECT ticket_id FROM incoming
      WHERE child_ticket AND ticket_id IN (SELECT group_id FROM linked)
    )
    """,
)
def q_remove_false_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """False-parent demotion: linked-family rows whose id re-arrived flagged
    as a child are deleted (qalert_airflow.py:156-190)."""
    t = load_tables(spark, sf_dir, ["orders"])
    linked = (
        t["orders"]
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("group_id"), "o_orderpriority")
    )
    incoming = t["orders"].select(
        F.col("o_orderkey").alias("ticket_id"),
        (F.col("o_orderkey") % 3 == 0).alias("child_ticket"),
    )
    cleaned, _demoted = R.remove_false_parents(linked, incoming)
    return cleaned.select("group_id")


@query(
    "q_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n,
           TRUE AS within_tolerance
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch approximate distinct users per event type. The raw HLL
    estimate is engine-specific, so the query emits the exact count plus a
    tolerance check (|approx - exact| ≤ 5×rsd×exact — deterministic for
    fixed data) that the oracle pins to TRUE; at 100 TB the approx path
    replaces the exact distinct's full shuffle with a mergeable fixed-size
    sketch."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("__approx"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            "exact_users",
            "n",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).alias("within_tolerance"),
        )
        .orderBy("event_type")
    )


@query(
    "q_asof_join",
    oracle="""
    WITH quotes AS (
      SELECT user_id, ts, value AS quote FROM events WHERE event_type IN ('view', 'click')
    ), trades AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT t.event_id, t.user_id, ROUND(q.quote, 2) AS quote
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase aligned to the latest prior view/click value
    per user — the time-series alignment operator Spark lacks natively,
    implemented as a union + carry-forward window (single shuffle)."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    quotes = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", F.col("value").alias("quote")
    )
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = R.asof_join(trades, quotes, "ts", "user_id", ["quote"])
    return out.select("event_id", "user_id", F.round("quote", 2).alias("quote"))


@query(
    "q_range_join",
    oracle="""
    WITH intervals AS (
      SELECT s_suppkey AS iid, s_suppkey * 900 AS lo, s_suppkey * 900 + 2000 AS hi
      FROM supplier
    ), pts AS (
      SELECT event_id, CAST(TRUNC(value * 40) AS BIGINT) AS x FROM events
    )
    SELECT event_id, iid
    FROM pts JOIN intervals ON x >= lo AND x <= hi
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized point-in-interval range join: equi join on coarse buckets +
    exact containment filter — a hash join instead of a nested-loop
    inequality join."""
    t = load_tables(spark, sf_dir, ["events", "supplier"])
    intervals = t["supplier"].select(
        F.col("s_suppkey").alias("iid"),
        (F.col("s_suppkey") * 900).alias("lo"),
        (F.col("s_suppkey") * 900 + 2000).alias("hi"),
    )
    pts = t["events"].select(
        "event_id", (F.col("value") * 40).cast("long").alias("x")
    )
    out = R.range_join_bucketed(pts, intervals, "x", "lo", "hi", bucket_width=1000)
    return out.select("event_id", "iid")


@query(
    "q_sliding_range_window",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS rolling_1h
    FROM events
    """,
)
def q_sliding_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding window: per-user rolling 1-hour sum over event
    time — the batch twin of a sliding streaming window."""
    t = load_tables(spark, sf_dir, ["events"])
    sec = F.col("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return t["events"].select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 2).alias("rolling_1h")
    )


@query(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL SELECT 'view>click', COUNT(*) FROM c
    UNION ALL SELECT 'view>click>purchase', COUNT(*) FROM p
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click within 24h → purchase within
    24h of that click), counted per stage — see ``conversion_funnel``."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].select("user_id", "event_type", "ts")
    return conversion_funnel(ev, ["view", "click", "purchase"])


def conversion_funnel(
    ev: DataFrame,
    stage_types: list[str],
    window: str = "24 HOURS",
) -> DataFrame:
    """N-stage ordered conversion funnel over (user_id, event_type, ts).
    Each stage is one keyed aggregate joined to the previous stage's anchor
    timestamps — the event stream shuffles on user_id once per stage, never
    self-joins row-to-row.

    Each non-final stage's anchor frame is user-count-sized and consumed
    twice (next stage's broadcast + its own stage-count row); without
    materialization stage N+1's plan REPLAYS stage N's whole subtree (plan
    audit: events scanned 6× lineage-only vs once per stage with it). The
    anchors are ``localCheckpoint``-ed — blocks live in executor memory,
    spilling to executor LOCAL disk under pressure (MEMORY_AND_DISK). Fine
    at any events-table scale because the anchors are |distinct converting
    users| rows, NOT events rows — at 100× events the anchor grows only
    with the user population — but the blocks are lost with an executor
    (recompute restarts the stage)."""
    anchors = []
    prev = None
    for i, etype in enumerate(stage_types):
        cur = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            cur = cur.join(F.broadcast(prev), "user_id").filter(
                (F.col("ts") > F.col(f"t{i}"))
                & (F.col("ts") <= F.col(f"t{i}") + F.expr(f"INTERVAL {window}"))
            )
        cur = cur.groupBy("user_id").agg(F.min("ts").alias(f"t{i + 1}"))
        # the last stage feeds only its count row — no second consumer
        if i < len(stage_types) - 1:
            cur = stage(cur, f"funnel_step{i + 1}")
        anchors.append(cur)
        prev = cur

    def stage_row(df, name):
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    out = None
    for i, df in enumerate(anchors):
        name = ">".join(stage_types[: i + 1])
        row = stage_row(df, name)
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             DATE_DIFF('day', f.cohort_week,
                       DATE_TRUNC('week', e.ts)) / 7 AS offset_weeks
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT STRFTIME(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(offset_weeks AS BIGINT) AS offset_weeks,
           COUNT(*) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted as retained in each later week they show activity. ONE scan and
    one user-keyed shuffle: the cohort week is a min-over-user window on
    the same pass that computes each event's offset (the agg + join-back
    formulation read events twice); week truncation is ISO-Monday on both
    engines."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].select("user_id", "ts")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("week", F.min("ts").over(w))
    activity = ev.select(
        "user_id",
        cohort.alias("cohort_week"),
        (F.datediff(F.date_trunc("week", F.col("ts")), cohort) / 7)
        .cast("long")
        .alias("offset_weeks"),
    ).distinct()
    return activity.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "offset_weeks",
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q_value_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             CASE WHEN value < 0 THEN 0
                  WHEN value >= 100 THEN 21
                  ELSE CAST(FLOOR(value / 5.0) AS BIGINT) + 1 END AS bucket
      FROM events
    )
    SELECT event_type, bucket, COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM b GROUP BY event_type, bucket
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value histograms: 20 fixed-width buckets over [0, 100)
    with underflow 0 / overflow 21 (width_bucket semantics, spelled as
    explicit FLOOR math because DuckDB lacks the function) — the profiling
    aggregate that should precede any outlier-trim threshold choice. One
    map-side-combined aggregate; no sort, no window."""
    t = load_tables(spark, sf_dir, ["events"])
    v = F.col("value")
    bucket = (
        F.when(v < 0, F.lit(0))
        .when(v >= 100, F.lit(21))
        .otherwise(F.floor(v / 5.0) + 1)
    ).cast("long")
    return (
        t["events"]
        .groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@query(
    "q_hourly_rollup",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-bucket rollup over the event stream — the hypertable
    continuous-aggregate read shape (relational.time_bucket_rollup; the
    incremental partition-scoped refresh of the PERSISTED rollup is
    exercised in tests/test_relational.py). One map-side-combinable
    shuffle on (bucket, event_type)."""
    from data_rivers_spark.operators.relational import time_bucket_rollup

    t = load_tables(spark, sf_dir, ["events"])
    out = time_bucket_rollup(
        t["events"], "ts", "hour", ["event_type"],
        {"n": ("count", "value"), "total": ("sum", "value")},
    )
    return out.select("bucket", "event_type", "n", F.round("total", 2).alias("total"))


@query(
    "q_asof_forward_tolerance",
    oracle="""
    WITH quotes AS (
      SELECT user_id, ts, value AS quote FROM events
      WHERE event_type IN ('view', 'click')
    ), trades AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT t.event_id, t.user_id,
           CASE WHEN q.ts IS NOT NULL
                 AND EPOCH(q.ts) - EPOCH(t.ts) <= 3600
                THEN ROUND(q.quote, 2) END AS quote
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts <= q.ts
    """,
)
def q_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward AS-OF with a 1-hour tolerance (pandas merge_asof semantics):
    each purchase aligned to the NEXT view/click value per user, nulled when
    the nearest following quote is more than an hour away. Same single
    union+window scan as backward, sort reversed; the tolerance is a pure
    post-filter on the carried match timestamp — no extra join or shuffle."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    quotes = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", F.col("value").alias("quote")
    )
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = R.asof_join(
        trades, quotes, "ts", "user_id", ["quote"],
        direction="forward", tolerance=3600.0,
    )
    return out.select("event_id", "user_id", F.round("quote", 2).alias("quote"))


@query(
    "q_asof_nearest",
    oracle="""
    WITH quotes AS (
      SELECT user_id, ts, value AS quote FROM events
      WHERE event_type IN ('view', 'click')
    ), trades AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT t.event_id, t.user_id,
           (SELECT ROUND(q.quote, 2) FROM quotes q
            WHERE q.user_id = t.user_id
              AND ABS(EPOCH(q.ts) - EPOCH(t.ts)) <= 1800
            ORDER BY ABS(EPOCH(q.ts) - EPOCH(t.ts)), q.ts
            LIMIT 1) AS quote
    FROM trades t
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction AS-OF with a 30-minute tolerance (the third pandas
    merge_asof direction): each purchase aligned to the CLOSEST view/click
    value per user in either direction, equal distances preferring the
    earlier quote. Engine = one union + two frames over a single sort (no
    second shuffle); oracle = per-trade argmin-|gap| correlated subquery
    with the same (|gap|, ts) tie order — the fixture has no equidistant
    quote pairs (verified), so both are deterministic."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    quotes = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", F.col("value").alias("quote")
    )
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = R.asof_join(
        trades, quotes, "ts", "user_id", ["quote"],
        direction="nearest", tolerance=1800.0,
    )
    return out.select("event_id", "user_id", F.round("quote", 2).alias("quote"))
