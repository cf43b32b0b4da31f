"""Relational operator library (SURVEY.md §2.3) — the reference's BigQuery
SQL-builder capabilities as reusable DataFrame functions.

Design stance: each BigQuery mutation pattern (INSERT…NOT IN, correlated
UPDATE, DELETE+INSERT, snapshot append) becomes a *pure* function
``(master, incoming, …) -> new_master`` — the managed-table layer
(data_rivers_spark.catalog) handles atomic persistence. Every function keeps
the plan shuffle-minimal: anti/semi joins on narrow keys, broadcast for
small sides, window functions partitioned by the natural key.

Parity citations into /root/reference/af2_dags/dependencies/bq_queries/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_rivers_spark.session import stage

# ---------------------------------------------------------------------------
# Dedup / latest-wins
# ---------------------------------------------------------------------------


def dedup_latest(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep the latest row per key: ROW_NUMBER() OVER (PARTITION BY keys ORDER
    BY order_cols DESC) = 1 (general_queries.py:31-43).

    Scale notes: one shuffle on ``keys``; with AQE the window runs after
    skew-aware partitioning. Add a tiebreaker column to order_cols for
    determinism."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def distinct_values_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality distinct-values table: DISTINCT cols WHERE all NOT NULL
    ORDER BY (general_queries.py:4-28)."""
    out = df.select(*cols)
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out.distinct().orderBy(*cols)


# ---------------------------------------------------------------------------
# Incremental merge (the reference's generic algorithm, SURVEY §3.2)
# ---------------------------------------------------------------------------


def insert_new_records(master: DataFrame, incoming: DataFrame, key: str | list[str]) -> DataFrame:
    """Anti-join append: master ∪ incoming rows whose key is absent
    (general_queries.py:87-98 INSERT … WHERE id NOT IN master)."""
    keys = [key] if isinstance(key, str) else key
    fresh = incoming.join(master.select(*keys).distinct(), keys, "left_anti")
    return master.unionByName(fresh.select(*master.columns))


def sync_update(
    master: DataFrame, staging: DataFrame, key: str | list[str], update_cols: list[str]
) -> DataFrame:
    """Correlated UPDATE: overwrite ``update_cols`` from staging where the key
    matches; unmatched master rows unchanged (general_queries.py:132-142).

    Staging must be key-unique (the reference dedups first to avoid BigQuery's
    'UPDATE must match at most one source row' — clean_311_records_airflow.py:58-69);
    enforce with dedup_latest upstream."""
    keys = [key] if isinstance(key, str) else key
    staged = staging.select(
        *keys, *[F.col(c).alias(f"__new_{c}") for c in update_cols]
    )
    joined = master.join(staged, keys, "left")
    out_cols: list[Column] = []
    for c in master.columns:
        if c in update_cols:
            out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def detect_changed_rows(
    master: DataFrame, staging: DataFrame, key: str | list[str], compare_cols: list[str]
) -> DataFrame:
    """Change detection: staging rows whose key exists in master but whose
    IFNULL-normalized compare_cols differ (general_queries.py:101-129)."""
    keys = [key] if isinstance(key, str) else key
    m = master.select(*keys, *[F.col(c).alias(f"__m_{c}") for c in compare_cols])
    joined = staging.join(m, keys, "inner")
    diff = None
    for c in compare_cols:
        ne = F.coalesce(F.col(c).cast("string"), F.lit("")) != F.coalesce(
            F.col(f"__m_{c}").cast("string"), F.lit("")
        )
        diff = ne if diff is None else (diff | ne)
    return joined.filter(diff).select(*staging.columns)


def upsert(
    master: DataFrame,
    incoming: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """DELETE matching keys then INSERT fresh rows — replace-by-key upsert
    (integrate_new_requests.py:84-106 delete_old_insert_new)."""
    keys = [key] if isinstance(key, str) else key
    kept = master.join(incoming.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(incoming.select(*master.columns))


def incremental_merge(
    master: DataFrame,
    incoming: DataFrame,
    key: str | list[str],
    update_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """The reference's generic incremental-merge triple (SURVEY §3.2):
    insert_new + sync_update + dedup_latest, as one pure recomputation
    (cherwell pattern: general_queries.py:31-43, :87-98, :132-142)."""
    keys = [key] if isinstance(key, str) else key
    latest_incoming = dedup_latest(incoming, keys, order_cols)
    inserted = insert_new_records(master, latest_incoming, keys)
    return sync_update(inserted, latest_incoming, keys, update_cols)


def snapshot_append(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Snapshot-append: new ∪ old rows whose composite key is absent from new
    (general_queries.py:172-184; intime_admin.py:46-58)."""
    return new.unionByName(old.join(new.select(*key_cols).distinct(), key_cols, "left_anti"))


def full_refresh_merge(new: DataFrame, old: DataFrame, key: str | list[str]) -> DataFrame:
    """Full-refresh union-merge: DISTINCT new ∪ old records missing from new
    (condemned_dead_end_properties.py:4-46)."""
    keys = [key] if isinstance(key, str) else key
    return new.distinct().unionByName(old.join(new.select(*keys).distinct(), keys, "left_anti"))


def filter_old_values(master: DataFrame, temp: DataFrame, key: str | list[str]) -> DataFrame:
    """DELETE WHERE key IN (temp) → anti-join rewrite (general_queries.py:165-169)."""
    keys = [key] if isinstance(key, str) else key
    return master.join(temp.select(*keys).distinct(), keys, "left_anti")


# ---------------------------------------------------------------------------
# Top-k / groupwise-max
# ---------------------------------------------------------------------------


def top_k_join(
    df: DataFrame, group_col: str, k: int, order_tiebreak: bool = True
) -> DataFrame:
    """Dashburgh top-k pattern: keep rows whose ``group_col`` value is among
    the k most frequent (transform_enrich_requests.py:38-68 — INNER JOIN
    against a GROUP BY/ORDER BY/LIMIT k subquery).

    Scale notes: the top-k list is tiny → broadcast semi-join back onto the
    fact; only the counting aggregation shuffles."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    order = [F.desc("__cnt")] + ([F.asc(group_col)] if order_tiebreak else [])
    top = counts.orderBy(*order).limit(k).select(group_col)
    return df.join(F.broadcast(top), group_col, "left_semi")


def groupwise_max(df: DataFrame, group_cols: list[str], max_col: str) -> DataFrame:
    """Rows carrying the per-group maximum of ``max_col`` — JOIN against
    (SELECT MAX(..) GROUP BY ..) (condemned_dead_end_properties.py:66-85).
    Ties keep all tied rows, exactly like the reference's join formulation."""
    mx = df.groupBy(*group_cols).agg(F.max(max_col).alias(max_col))
    return df.join(mx, group_cols + [max_col], "left_semi")


def global_row_number(df: DataFrame, order_cols: list[str], out_col: str = "seq") -> DataFrame:
    """ROW_NUMBER() OVER (ORDER BY …) global sequence
    (condemned_dead_end_properties.py:71).

    Scale notes: a global window is a single-partition sort — fine for the
    reference's export-sized tables, unacceptable on a 100 TB fact; use
    ``global_row_number_scalable`` there (same output, range-partitioned)."""
    w = Window.orderBy(*order_cols)
    return df.withColumn(out_col, F.row_number().over(w))


def global_row_number_scalable(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe global ROW_NUMBER(): identical output to
    ``global_row_number`` without the single-partition sort.

    Plan: (1) range-repartition on the order keys so partition i holds a
    contiguous key range; (2) row_number within each range partition — the
    window partitions on ``spark_partition_id()``, so every task sorts only
    its own slice; (3) per-partition row counts (a tiny aggregate) become
    cumulative offsets on the driver side of a broadcast join. Two data
    shuffles (range + pid hash, both full-width, neither a bottleneck) and
    one count job replace the all-to-one sort.

    Ties across ``order_cols`` get an arbitrary-but-deterministic order
    within a partition (same contract as ROW_NUMBER); equal keys never split
    across range partitions, so tie groups stay contiguous.

    The numbered frame is eagerly localCheckpointed so the counts branch and
    the output branch read ONE computed RDD — the correctness of the
    offsets REQUIRES both branches to see the same partition assignment.
    Catalyst does NOT guarantee that by itself: the plan audit showed the
    two branches compile to two separate range exchanges (no
    ReusedExchange), each re-sampling range boundaries; that works only
    while the sampler sees bit-identical input, and a future filter/pruning
    difference between branches would silently corrupt the sequence. The
    checkpoint makes consistency structural and also avoids recomputing the
    input twice. Returns bigint (a global sequence past 2^31 rows cannot be
    int; the exact variant inherits int from ROW_NUMBER)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *[F.col(c) for c in order_cols]).withColumn(
        "__pid", F.spark_partition_id()
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_cols)
    numbered = ranged.withColumn("__local", F.row_number().over(local_w))
    numbered = stage(numbered, "seq_numbered")
    counts = numbered.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0))
    ).select("__pid", "__off")
    return (
        numbered.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local")
    )


# ---------------------------------------------------------------------------
# Parent/child ticket aggregation (qscend family model)
# ---------------------------------------------------------------------------


def child_ticket_rollup(
    children: DataFrame,
    parent_key: str,
    id_col: str,
    comment_col: str,
    id_delim: str = ", ",
    comment_delim: str = " <BREAK> ",
) -> DataFrame:
    """STRING_AGG ids + comments and COUNT per parent
    (integrate_new_requests.py:18-81). Aggregated values are ordered by the
    child id for determinism (BigQuery STRING_AGG is unordered; the reference
    relies on insertion order — we pin a canonical order instead)."""
    pairs = F.array_agg(F.struct(F.col(id_col).alias("i"), F.col(comment_col).alias("c")))
    sorted_pairs = F.array_sort(pairs)
    return children.groupBy(parent_key).agg(
        F.concat_ws(id_delim, F.transform(sorted_pairs, lambda s: s["i"].cast("string"))).alias(
            "child_ids"
        ),
        F.concat_ws(
            comment_delim, F.transform(sorted_pairs, lambda s: s["c"].cast("string"))
        ).alias("child_comments"),
        F.count(F.lit(1)).alias("cts"),
    )


def linked_tickets_array(
    children: DataFrame,
    parent_key: str,
    struct_cols: list[str],
) -> DataFrame:
    """ARRAY_AGG(STRUCT(...)) GROUP BY parent with num_requests =
    ARRAY_LENGTH + 1 (integrate_new_requests.py:200-232), canonically ordered."""
    arr = F.array_sort(F.array_agg(F.struct(*[F.col(c) for c in struct_cols])))
    return children.groupBy(parent_key).agg(
        arr.alias("child_tickets"),
        (F.size(arr) + 1).alias("num_requests"),
    )


def append_to_text_field(
    master: DataFrame,
    src: DataFrame,
    key: str,
    field: str,
    delim: str,
) -> DataFrame:
    """master.field = CONCAT(IFNULL(field||delim, ''), src.field) unless the
    value is already contained (integrate_new_requests.py:4-15)."""
    s = src.select(F.col(key), F.col(field).alias("__src_field"))
    joined = master.join(s, key, "left")
    appended = F.when(
        F.col("__src_field").isNull() | F.col(field).contains(F.col("__src_field")), F.col(field)
    ).otherwise(
        F.concat(F.coalesce(F.concat(F.col(field), F.lit(delim)), F.lit("")), F.col("__src_field"))
    )
    return joined.withColumn(field, appended).drop("__src_field")


# ---------------------------------------------------------------------------
# Reporting aggregates
# ---------------------------------------------------------------------------


def bucketed_report(
    df: DataFrame,
    bucket_col: str,
    buckets: list[tuple[float, float, str]],
    group_cols: list[str],
    out_col: str = "bucket",
) -> DataFrame:
    """CASE WHEN x BETWEEN a AND b THEN label bucketing × group-by count —
    the EEO4 salary-band report shape (ceridian_admin.py:5-57)."""
    expr: Column | None = None
    for lo, hi, label in buckets:
        cond = F.col(bucket_col).between(lo, hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    bucketed = df.withColumn(out_col, expr.otherwise(F.lit("other")))
    return bucketed.groupBy(*(group_cols + [out_col])).agg(F.count(F.lit(1)).alias("n"))


def percentage_table(
    df: DataFrame, group_cols: list[str], id_col: str, pct_decimals: int = 4
) -> DataFrame:
    """COUNT(DISTINCT id) per group ÷ grand total via an empty-frame window —
    SUM(COUNT(*)) OVER () (ceridian_admin.py:60-79).

    Scale notes: the grand-total window over an aggregated (tiny) frame is
    cheap; never run an empty-partition window over the raw fact."""
    counts = df.groupBy(*group_cols).agg(F.countDistinct(id_col).alias("n"))
    w = Window.partitionBy()
    return counts.withColumn(
        "pct", F.round(F.col("n") / F.sum("n").over(w), pct_decimals)
    )


# ---------------------------------------------------------------------------
# Sharding
# ---------------------------------------------------------------------------


def split_table_by_range(
    df: DataFrame, ts_col: str, boundaries: list
) -> list[DataFrame]:
    """Range-shard into N frames by [b_i, b_{i+1}) (airflow_utils.py:130-160).
    For writes prefer ``df.repartitionByRange(n, ts_col)`` + partitioned
    parquet — same pruning, no N scans."""
    out = []
    for lo, hi in zip(boundaries, boundaries[1:]):
        out.append(df.filter((F.col(ts_col) >= lo) & (F.col(ts_col) < hi)))
    return out


# ---------------------------------------------------------------------------
# False-parent demotion (qalert family-model maintenance)
# ---------------------------------------------------------------------------


def remove_false_parents(
    linked: DataFrame,
    incoming: DataFrame,
    group_key: str = "group_id",
    id_col: str = "ticket_id",
    child_flag: str = "child_ticket",
) -> tuple[DataFrame, DataFrame]:
    """A ticket first seen as a parent can be reclassified as a child; its row
    must leave the linked-family table and its data re-enter as child data
    (qalert_airflow.py:156-190 inline SQL: CREATE temp of now-child rows +
    DELETE matching group_ids).

    Returns (linked_without_false_parents, demoted_children)."""
    demoted = incoming.filter(F.col(child_flag)).join(
        linked.select(F.col(group_key).alias(id_col)).distinct(), id_col, "left_semi"
    )
    cleaned = linked.join(
        demoted.select(F.col(id_col).alias(group_key)).distinct(), group_key, "left_anti"
    )
    return cleaned, demoted


# ---------------------------------------------------------------------------
# Data-quality distinct-diff check
# ---------------------------------------------------------------------------


def data_quality_new_values(
    new_ref: DataFrame, old_ref: DataFrame, cols: list[str]
) -> DataFrame:
    """Previously-untracked distinct values: rows of the fresh distinct-values
    table absent from the stored one (perform_data_quality_check,
    airflow_utils.py:354-391 — the reference diffs ndjson files in Python;
    here it is an anti-join over the same distinct tables)."""
    return (
        distinct_values_table(new_ref, cols)
        .join(distinct_values_table(old_ref, cols), cols, "left_anti")
        .orderBy(*cols)
    )


def merge_linked_arrays(
    master: DataFrame,
    incoming: DataFrame,
    key: str,
    arr_col: str = "child_tickets",
) -> DataFrame:
    """Append newly-arrived child structs onto the master's array column and
    refresh num_requests = ARRAY_LENGTH + 1 (update_linked_tix_info,
    integrate_new_requests.py:200-232: ARRAY_CONCAT of existing and incoming
    ARRAY_AGG results)."""
    inc = incoming.select(F.col(key), F.col(arr_col).alias("__inc_arr"))
    joined = master.join(inc, key, "left")
    merged = F.concat(
        F.coalesce(F.col(arr_col), F.array()),
        F.coalesce(F.col("__inc_arr"), F.array()),
    )
    return (
        joined.withColumn(arr_col, merged)
        .withColumn("num_requests", F.size(F.col(arr_col)) + 1)
        .drop("__inc_arr")
    )


# ---------------------------------------------------------------------------
# Skew handling
# ---------------------------------------------------------------------------


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: the big side gets a random salt in
    [0, salt_buckets), the small side is replicated once per salt value, and
    the join key becomes (key, salt) — a hot key's rows spread across
    salt_buckets tasks instead of one straggler.

    Use when AQE skew-join splitting isn't enough (e.g. one key is >50% of
    the table). The small side must tolerate replication (dim-sized)."""
    salted_big = big.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    replicated = skewed_small.select("*", salts)
    out = salted_big.join(replicated, [key, "__salt"], how)
    return out.drop("__salt")


def salted_count(df: DataFrame, key: str, salt_buckets: int = 16) -> DataFrame:
    """Two-phase skew-resistant count per key: partial count on (key, salt),
    then final sum on key — the hot key's partial aggregation parallelizes
    across salt_buckets tasks. (With map-side combine Spark usually does this
    already; the explicit form is for extreme single-key skew where even the
    combined partials overload one reducer.)"""
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("__c"))
    return partial.groupBy(key).agg(F.sum("__c").alias("n"))


# ---------------------------------------------------------------------------
# As-of join (time-series alignment — no native Spark equivalent)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    by: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """AS-OF join: each left row gets the right row with the greatest
    timestamp ≤ its own (``direction='backward'``, DuckDB/kdb ASOF JOIN
    semantics) or the smallest timestamp ≥ its own (``'forward'``), per
    ``by`` key. Spark has no native operator.

    ``tolerance`` (pandas merge_asof semantics): maximum allowed gap between
    the left timestamp and its match, in seconds for timestamp columns
    (plain units for numeric ordering columns); a match further away yields
    NULL value columns, exactly like no match at all.

    ``direction='nearest'`` (pandas merge_asof): whichever of the backward
    and forward matches is closer in time; equal distances prefer the
    backward (earlier) match, exactly pandas' ``bdiff <= fdiff`` rule.
    Same single shuffle+sort — the backward carry and the forward carry are
    two frames over the SAME ascending sort (rows unbounded-preceding →
    current and current → unbounded-following), so nearest costs no more
    than one directional scan.

    Scale design: NOT a range join (which degrades to O(n·m) per key).
    Union both sides tagged, sort within key by (ts, side), and carry the
    last-seen right values forward with last_value(ignorenulls) over an
    unbounded-preceding window — one shuffle on ``by``, one sort, linear
    scan. ``forward`` is the same scan with the sort reversed. Ties (equal
    ts) resolve right-before-left in scan order, matching ASOF '<=' / '>='."""
    from pyspark.sql import Window

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward, forward or nearest, got {direction!r}"
        )
    # ts_col/by in value_cols would mint duplicate __r_<c> aliases below and
    # fail at analysis with an ambiguous-reference error — reject up front
    # (the matched right timestamp is carried automatically; the key is
    # equal on both sides by construction)
    clash = [c for c in value_cols if c in (ts_col, by)]
    if clash:
        raise ValueError(
            f"value_cols may not contain the ordering/key columns {clash}:"
            " the matched right timestamp is already carried, and the by-key"
            " is identical on both sides"
        )
    lcols = [c for c in left.columns]
    carry = list(value_cols) + [ts_col]  # also carry the matched right ts
    l_tagged = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in carry],
    )
    r_tagged = right.select(
        F.col(by),
        F.col(ts_col),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (by, ts_col)],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in carry],
    ).select(*lcols, "__side", *[f"__r_{c}" for c in carry])
    unioned = l_tagged.unionByName(r_tagged)
    if direction == "nearest":
        asc = Window.partitionBy(by).orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        w_b = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        w_f = asc.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        carried = unioned.select(
            *lcols,
            "__side",
            *[
                F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w_b).alias(f"__b_{c}")
                for c in carry
            ],
            *[
                F.first(F.col(f"__r_{c}"), ignorenulls=True).over(w_f).alias(f"__f_{c}")
                for c in carry
            ],
        ).filter(F.col("__side") == 1)
        bts, fts = F.col(f"__b_{ts_col}"), F.col(f"__f_{ts_col}")
        gap_b = F.col(ts_col).cast("double") - bts.cast("double")
        gap_f = fts.cast("double") - F.col(ts_col).cast("double")
        # an equal-ts right row lands in the backward frame only (side order
        # puts it before the left row), giving gap 0 — backward then wins
        # every comparison, so 'nearest' still matches it, via <=
        use_b = bts.isNotNull() & (fts.isNull() | (gap_b <= gap_f))
        matched = F.when(use_b, bts.isNotNull()).otherwise(fts.isNotNull())
        if tolerance is not None:
            gap = F.when(use_b, gap_b).otherwise(gap_f)
            matched = matched & (gap <= F.lit(float(tolerance)))
        return carried.select(
            *lcols,
            *[
                F.when(matched & use_b, F.col(f"__b_{c}"))
                .when(matched & ~use_b, F.col(f"__f_{c}"))
                .alias(c)
                for c in value_cols
            ],
        )
    ts_order = F.col(ts_col).asc() if direction == "backward" else F.col(ts_col).desc()
    w = (
        Window.partitionBy(by)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(
                c if c != ts_col else "__rts"
            )
            for c in carry
        ],
    )
    out = carried.filter(F.col("__side") == 1).drop("__side")
    if tolerance is not None:
        gap = F.col(ts_col).cast("double") - F.col("__rts").cast("double")
        if direction == "forward":
            gap = -gap
        within = F.col("__rts").isNotNull() & (gap <= F.lit(float(tolerance)))
        out = out.select(
            *[c for c in lcols],
            *[
                F.when(within, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in value_cols
            ],
        )
    return out.drop("__rts")


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Scalable point-in-interval range join: both sides are keyed to coarse
    buckets of ``bucket_width`` (intervals explode to every bucket they
    overlap), the join is EQUI on the bucket, and the exact containment
    predicate filters after.

    Without bucketing, an inequality-only join is a cartesian
    BroadcastNestedLoopJoin — O(n·m); a dim of a few hundred intervals is
    better folded into the plan as an array literal (see
    geo.revgeo_timebound_join). Bucketing makes it a
    hash join whose fan-out is interval_span/bucket_width. Pick bucket_width
    near the median interval length."""
    p = points.withColumn(
        "__bucket", F.floor(F.col(point_col) / bucket_width).cast("long")
    )
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width).cast("long"),
                F.floor(F.col(end_col) / bucket_width).cast("long"),
            )
        ),
    )
    joined = p.join(i, "__bucket", how).filter(
        (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col))
    )
    return joined.drop("__bucket")


def increment_counts(
    master: DataFrame,
    increments: DataFrame,
    key: str,
    count_col: str,
    inc_col: str = "cts",
) -> DataFrame:
    """UPDATE master SET count = count + incoming_cts per key; unmatched rows
    unchanged (increment_ticket_counts, integrate_new_requests.py:109-121)."""
    inc = increments.select(F.col(key), F.col(inc_col).alias("__inc"))
    joined = master.join(inc, key, "left")
    return joined.withColumn(
        count_col, F.col(count_col) + F.coalesce(F.col("__inc"), F.lit(0))
    ).drop("__inc")


def time_bucket_rollup(
    events: DataFrame,
    ts_col: str,
    bucket: str,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Time-bucketed aggregate — the hypertable continuous-aggregate shape:
    one row per (bucket, *group_cols) with the requested aggregates.

    ``bucket`` is a date_trunc unit ('hour', 'day', 'week', ...); ``aggs``
    maps output column → (function, input column) with function one of
    sum/count/min/max/avg. The bucket lands as a canonical STRING key
    (stable for partition directories and cross-engine comparison); note
    that after persisting partitioned-by-bucket, Spark's partition-value
    type inference reads the column back as TIMESTAMP — same instants,
    better typed. One map-side-combinable shuffle on (bucket, groups)."""
    fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max, "avg": F.avg}
    bucket_col = F.date_format(
        F.date_trunc(bucket, F.col(ts_col)), "yyyy-MM-dd HH:mm:ss"
    ).alias("bucket")
    exprs = []
    for out, (fn, col) in aggs.items():
        if fn not in fns:
            raise ValueError(f"agg {fn!r} not in {sorted(fns)}")
        exprs.append(fns[fn](F.col(col)).alias(out))
    return events.groupBy(bucket_col, *group_cols).agg(*exprs)


def refresh_time_rollup(
    catalog,
    source_table: str,
    rollup_table: str,
    ts_col: str,
    bucket: str,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    touched: DataFrame | list[str] | None = None,
) -> int:
    """Incrementally refresh a persisted time-bucket rollup — the
    TimescaleDB continuous-aggregate / materialized-rollup maintenance
    move, built from this catalog's partition verbs:

    1. determine the TOUCHED buckets (pass the new batch — its distinct
       buckets are computed with one tiny aggregate — or an explicit
       bucket list; None = full rebuild);
    2. re-aggregate ONLY those buckets from the source table, with the
       bucket filter pushed into the scan (partition/row-group pruning —
       at 100 TB this reads the touched hours, not the table);
    3. swap them into the rollup via ``overwrite_partitions`` — untouched
       bucket partitions are hard-linked, readers see an atomic version
       flip, and a crashed refresh leaves the old version intact.

    Aggregates are recomputed from source per touched bucket rather than
    merged delta-wise, so ALL aggregate functions work (avg, min, max —
    not just commutative adds) and late/updated/deleted source rows
    converge on every refresh. Returns the number of rollup rows written."""
    src = catalog.read(source_table)
    bucket_expr = F.date_format(
        F.date_trunc(bucket, F.col(ts_col)), "yyyy-MM-dd HH:mm:ss"
    )
    if touched is None and not catalog.exists(rollup_table):
        scoped = src
    elif touched is None:
        scoped = src
    else:
        if isinstance(touched, DataFrame):
            vals = [
                r[0]
                for r in touched.select(
                    F.date_format(
                        F.date_trunc(bucket, F.col(ts_col)), "yyyy-MM-dd HH:mm:ss"
                    ).alias("b")
                )
                .distinct()
                .collect()
            ]
        else:
            vals = list(touched)
        if not vals:
            return 0
        scoped = src.filter(bucket_expr.isin(vals))
    out = time_bucket_rollup(scoped, ts_col, bucket, group_cols, aggs)
    out = stage(out, "rollup_refresh")  # sever from the version replaced
    n = out.count()
    if catalog.exists(rollup_table):
        catalog.overwrite_partitions(rollup_table, out, ["bucket"])
    else:
        catalog.create_or_replace(out, rollup_table, partition_by=["bucket"])
    return n


# ---------------------------------------------------------------------------
# Hierarchy flattening (recursive-CTE closure — no native Spark equivalent)
# ---------------------------------------------------------------------------


def flatten_hierarchy(
    edges: DataFrame,
    child_col: str,
    parent_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Flatten a parent-pointer forest to ``(node, root, depth)`` — the
    recursive-CTE closure (org charts, category trees, parent-ticket chains)
    Spark SQL cannot express declaratively.

    A root is any parent that never appears as a child; every non-root node
    resolves to the root of its chain and its distance from it. Cycles are
    NOT followed forever: nodes still unsettled after ``max_iterations``
    doublings raise (a cycle has no root, so silently dropping or emitting
    them would corrupt the rollup that consumes this).

    Scale design: pointer DOUBLING, not step-by-step walking — each round
    joins the frontier's known-highest ancestor to that ancestor's own
    pointer, so the resolved distance doubles per round and a depth-D
    hierarchy settles in ceil(log2 D) self-joins (a 1M-deep chain = 20
    rounds), each one equi-join shuffle on the ancestor key. Lineage is cut
    per round with localCheckpoint, as in connected_components; rounds stop
    early at fixpoint (no unsettled rows)."""
    ptr = stage(
        edges.select(
            F.col(child_col).alias("node"),
            F.col(parent_col).alias("anc"),
            F.lit(1).alias("depth"),
        ),
        "hierarchy_ptr",
        eager=False,
    )
    # settled(node) := anc has no outgoing pointer (anc is a root)
    children = edges.select(F.col(child_col).alias("__c")).distinct()
    for _ in range(max_iterations):
        jump = ptr.alias("p").join(
            ptr.select(
                F.col("node").alias("__jn"),
                F.col("anc").alias("__janc"),
                F.col("depth").alias("__jd"),
            ).alias("j"),
            F.col("p.anc") == F.col("__jn"),
            "left",
        )
        ptr = stage(
            jump.select(
                "node",
                F.coalesce(F.col("__janc"), F.col("anc")).alias("anc"),
                (F.col("depth") + F.coalesce(F.col("__jd"), F.lit(0))).alias("depth"),
            ),
            "hierarchy_jump",
            eager=False,
        )
        unsettled = ptr.join(children, ptr.anc == children.__c, "left_semi")
        if unsettled.isEmpty():
            break
    else:
        n = ptr.join(children, ptr.anc == children.__c, "left_semi").count()
        if n:
            raise ValueError(
                f"flatten_hierarchy: {n} nodes unresolved after "
                f"{max_iterations} doublings — cycle, or depth > 2^{max_iterations}"
            )
    return ptr.select("node", F.col("anc").alias("root"), "depth")
