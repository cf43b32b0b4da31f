"""Structured Streaming variants of the engine's incremental patterns.

The reference is batch-cron (SURVEY.md §2.6: no streaming operators exist;
incrementality = watermark-since extraction + merge). These modules are the
Spark-native upgrade path: the same transforms applied over readStream with
event-time watermarks, so an hourly-cron pipeline becomes a continuous one
without operator changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source stream over an ndjson landing directory — the streaming
    twin of the reference's GCS-landing pattern."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermark: the
    continuous version of the reference's hourly batch rollups."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: dropDuplicates over
    a stream — the streaming twin of the defensive-DISTINCT posture
    (qalert_airflow.py:110-113).

    SCALE WARNING: with the dedup subset not containing the event-time
    column, dropDuplicates state is NEVER evicted by the watermark — key
    state grows without bound on an unbounded stream. Use
    ``streaming_dedup_within_watermark`` for long-running jobs; this exact
    form matches batch DISTINCT semantics and suits bounded replays."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def streaming_dedup_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps a
    key's state only for the watermark window, so state size tracks the
    duplicate-arrival horizon (bounded) instead of total distinct keys
    (unbounded). The contract weakens accordingly — a duplicate arriving
    later than the watermark delay after the first sighting is re-emitted —
    which is the right trade for at-least-once sources whose retries cluster
    within minutes."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (small, broadcast) static dimension — the streaming twin of the
    crosswalk/zone enrichment joins. The static side is re-resolved per
    batch, so swapping the managed table's version between batches is picked
    up without restarting the query; no stream state is kept."""
    return events.join(F.broadcast(dim), on, how)


def stream_stream_attribution_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Windowed stream-stream INNER join: each right-side event pairs with
    the same key's left-side events from the preceding ``window`` — the
    streaming form of click→purchase attribution (the batch funnel's
    adjacent-stage join, q_funnel, as a continuous query).

    Both sides carry event-time watermarks and the join predicate bounds
    the time range, which is what lets Spark EVICT join state: left rows
    older than (right watermark − window) can never match again and are
    dropped, so state tracks the window's worth of events per side, not
    the stream's history. Without the range condition a stream-stream join
    keeps unbounded state — the classic leak this helper exists to avoid.

    Inner-join rows emit as soon as both sides arrive (the watermark only
    gates state cleanup and outer-join NULL emission)."""
    lt, rt = f"{left_prefix}_ts", f"{right_prefix}_ts"
    l = left.select(
        F.col(key),
        F.col("ts").alias(lt),
        F.col("event_id").alias(f"{left_prefix}_event_id"),
        F.col("value").alias(f"{left_prefix}_value"),
    ).withWatermark(lt, watermark)
    r = right.select(
        F.col(key).alias(f"__{key}"),
        F.col("ts").alias(rt),
        F.col("event_id").alias(f"{right_prefix}_event_id"),
        F.col("value").alias(f"{right_prefix}_value"),
    ).withWatermark(rt, watermark)
    joined = l.join(
        r,
        (F.col(key) == F.col(f"__{key}"))
        & (F.col(rt) >= F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {window}")),
    )
    return joined.drop(f"__{key}")


def sessionized_event_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows over the stream: ``session_window`` merges
    events per user into sessions that close after ``gap`` of inactivity —
    the streaming twin of the batch q_sessionize (lag + cumulative-sum
    session numbering): identical session boundaries, but computed
    incrementally with watermark-bounded state instead of a full-history
    window. A session's row is emitted once its close is final (watermark
    passes session_end + gap), so the sink sees each session exactly once
    in append mode.

    State scale: one open session per active user, evicted by the
    watermark — state tracks concurrent users, not event volume."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def latest_state_per_user(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Continuous latest-wins state per user — the streaming twin of
    dedup_latest/incremental_merge. applyInPandasWithState generalizes this to
    arbitrary state; for plain latest-wins the windowed max-struct aggregation
    below stays fully JVM-side."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
    )


def write_stream_to_parquet(df: DataFrame, path: str, checkpoint: str, trigger_once: bool = True):
    """Sink with checkpointing; trigger_once runs one incremental batch —
    exactly the cron-cadence semantics of the reference DAGs, but with
    streaming bookkeeping (no watermark file management needed)."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_merge_into_catalog(
    events: DataFrame,
    catalog,
    table: str,
    key: str,
    update_cols: list[str],
    order_cols: list[str],
    checkpoint: str,
):
    """Continuous incremental merge: each micro-batch runs the engine's
    generic merge (insert_new + sync_update + dedup_latest) into a managed
    table via foreachBatch — the reference's hourly master-table sync
    (SURVEY §3.2) as a streaming job.

    Delivery: foreachBatch is AT-LEAST-ONCE (a batch can be replayed after
    a failure). That is safe here because merge_upsert is idempotent —
    replaying the same batch upserts the same keys to the same values —
    which is exactly why merge, not append, is the right sink shape for a
    retried micro-batch."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if catalog.exists(table):
            catalog.merge_upsert(table, batch_df, key, update_cols, order_cols)
        else:
            catalog.create_or_replace(batch_df, table)

    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_into_corpus(
    docs: DataFrame,
    catalog,
    corpus_table: str,
    signature_table: str,
    text_col: str,
    id_col: str,
    checkpoint: str,
    threshold: float = 0.8,
    keep_dropped_signatures: bool = False,
    history_table: str | None = None,
):
    """Continuous corpus ingestion with near-dup dedup: every micro-batch
    runs ``incremental_lsh_dedup`` against the PERSISTED signature store,
    appends the surviving docs to the corpus table and their banded
    signature rows to the store — the streaming twin of the batch
    incremental dedup. The store table is append-only row form (id,
    band_idx, band_hash); each batch groups it with ``group_banded_store``
    before the call.

    Contract carried over from the batch operator: doc ids must be
    monotonically increasing across batches (the id cutoff is what prunes
    corpus-vs-corpus work). Per batch this touches the corpus text only via
    the bucket-hit semi-join, so steady-state cost tracks the batch size,
    not the accumulated corpus.

    ``keep_dropped_signatures=True`` requires ``history_table``: the
    signature store then contains DROPPED docs' ids, and verification of a
    bucket hit needs that doc's text — which the corpus table (survivors
    only) cannot supply. The wrapper appends every FULL batch to
    ``history_table`` and verifies against it, honoring
    ``incremental_lsh_dedup``'s caller-must-pass-full-history contract.
    Without a history table the flag would silently have no effect (bucket
    hits on dropped ids find no text and are discarded), so it raises.

    Delivery: foreachBatch is AT-LEAST-ONCE, and the table appends here are
    not idempotent, so replayed batch ids are skipped via a committed-ids
    table (``<signature_table>__commits``). The commit record lands AFTER
    the data appends; a crash between an append and the commit record can
    still duplicate that one batch's rows on replay — closing that last
    window needs a transactional sink (e.g. Delta/Iceberg), which the
    plain-parquet catalog deliberately is not.

    Scale note: foreachBatch is the right tool here, not a stateful
    operator — the dedup state (banded signatures) is corpus-sized and
    belongs in a table, not in the state store."""
    dedup_batch = make_dedup_batch_fn(
        catalog,
        corpus_table,
        signature_table,
        text_col,
        id_col,
        threshold=threshold,
        keep_dropped_signatures=keep_dropped_signatures,
        history_table=history_table,
    )
    return (
        docs.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def make_dedup_batch_fn(
    catalog,
    corpus_table: str,
    signature_table: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    keep_dropped_signatures: bool = False,
    history_table: str | None = None,
):
    """Build the foreachBatch callable for ``stream_dedup_into_corpus``.

    Exposed separately so the replay/idempotency behavior is directly
    testable: calling the returned fn twice with the same batch_id must be
    a no-op the second time (the committed-ids guard)."""
    from data_rivers_spark.operators import dedup as D

    if keep_dropped_signatures and history_table is None:
        raise ValueError(
            "keep_dropped_signatures=True requires history_table: dropped "
            "docs' text must be persisted for later bucket-hit verification"
        )
    commits_table = f"{signature_table}__commits"

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if catalog.exists(commits_table):
            committed = catalog.read(commits_table)
            if committed.filter(F.col("batch_id") == batch_id).take(1):
                return  # replay of an already-committed batch: no-op
        first = batch_df.select(F.min(F.col(id_col)).alias("m")).collect()
        if not first or first[0].m is None:
            return
        batch_min_id = first[0].m
        have_store = catalog.exists(signature_table)
        if have_store:
            # with dropped ids in the store, text lookup must cover dropped
            # docs too — that is the history table, not the corpus
            src = history_table if keep_dropped_signatures else corpus_table
            master_docs = catalog.read(src)
            master_store = D.group_banded_store(catalog.read(signature_table), id_col)
        else:
            master_docs = master_store = None
        survivors, banded = D.incremental_lsh_dedup(
            batch_df,
            master_docs,
            master_store,
            text_col,
            id_col,
            threshold=threshold,
            batch_min_id=batch_min_id,
            keep_dropped_signatures=keep_dropped_signatures,
        )
        if have_store:
            catalog.insert_into(corpus_table, survivors)
            catalog.insert_into(signature_table, banded)
            if history_table is not None:
                catalog.insert_into(history_table, batch_df)
        else:
            catalog.create_or_replace(survivors, corpus_table)
            catalog.create_or_replace(banded, signature_table)
            if history_table is not None:
                catalog.create_or_replace(batch_df, history_table)
        commit = spark.createDataFrame([(batch_id,)], "batch_id long")
        if catalog.exists(commits_table):
            catalog.insert_into(commits_table, commit)
        else:
            catalog.create_or_replace(commit, commits_table)

    return dedup_batch
