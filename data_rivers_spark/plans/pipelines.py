"""End-to-end pipeline definitions mirroring the reference DAGs as plain
Python functions over one SparkSession (SURVEY.md §3: extract → transform →
land → SQL chain collapses into DataFrame lineage + managed-table swaps).

qalert_pipeline is the canonical slice (qalert_airflow.py:247-249): transform
chain → landing table → format/dedupe → revgeo enrichment → parent/child
integration → master tables → scrubbed export.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_rivers_spark.catalog.tables import ManagedCatalog
from data_rivers_spark.operators import relational as R
from data_rivers_spark.operators import transforms as X
from data_rivers_spark.operators.geo import revgeo_multi_zone
from data_rivers_spark.session import stage


def qalert_transform_chain(raw: DataFrame) -> DataFrame:
    """The 12-ParDo Beam chain (qalert_requests_dataflow.py:128-147) as one
    DataFrame expression chain — single codegen stage, no Python."""
    df = X.replace_pii(raw, "comments", "anon_comments")
    df = X.swap_field_names(
        df,
        [
            ("id", "ticket_id"),
            ("master", "parent_ticket_id"),
            ("status", "status_code"),
            ("addDateUnix", "create_date_unix"),
            ("lastActionUnix", "last_action_unix"),
        ],
    )
    df = X.columns_camel_to_snake_case(df)
    df = X.get_date_strings_from_unix(
        df,
        [
            ("create_date_unix", "create_date_utc", "create_date_est"),
            ("last_action_unix", "last_action_utc", "last_action_est"),
        ],
    )
    df = X.change_data_types(
        df,
        [
            ("ticket_id", "int"),
            ("parent_ticket_id", "int"),
            ("latitude", "float"),
            ("longitude", "float"),
        ],
    )
    df = X.decode_status(df)
    df = X.get_closed_date(df)
    df = X.detect_child_ticket(df)
    df = X.format_and_classify_address(
        df,
        {
            "street_num_field": "street_num",
            "street_name_field": "street_name",
            "cross_street_field": "cross_street_name",
            "city_field": "city_name",
            "lat_field": "latitude",
            "long_field": "longitude",
        },
        contains_pii=True,
    )
    df = X.anonymize_lat_long(df, [("latitude", "longitude", 200)])
    return df


def qalert_pipeline(
    catalog: ManagedCatalog,
    raw: DataFrame,
    zone_tables: dict[str, DataFrame] | None = None,
    geocode_crosswalk: DataFrame | None = None,
) -> DataFrame:
    """Full QAlert-shaped run (SURVEY §3.1 steps 2-4). Returns the scrubbed
    export DataFrame; master tables land in the catalog."""
    # 2) transform
    incoming = qalert_transform_chain(raw)
    if geocode_crosswalk is not None:
        from data_rivers_spark.operators.geocode import geocode_with_crosswalk

        incoming = geocode_with_crosswalk(
            incoming, geocode_crosswalk, "pii_input_address"
        )

    # 3) land (WRITE_TRUNCATE), day-partitioned like the reference's
    # DAY-partitioned BQ tables (airflow_utils.py:163-190) → downstream scans
    # of a date range prune partitions instead of reading the full landing set
    incoming = incoming.withColumn(
        "create_date_day", F.substring(F.col("create_date_utc"), 1, 10)
    )
    catalog.create_or_replace(incoming, "qalert_incoming", partition_by=["create_date_day"])
    incoming = catalog.read("qalert_incoming")

    # 4a) format + defensive dedup (transform_enrich_requests.py:120-151)
    incoming = R.dedup_latest(incoming, ["ticket_id"], ["last_action_unix"])

    # 4b) revgeo enrichment (geo_queries.py:4-108)
    # the chain leaves latitude/longitude as rounded strings and the creation
    # time as unix seconds; the join needs numbers and a timestamp, which
    # live only as long as the join
    if zone_tables:
        incoming = revgeo_multi_zone(
            incoming.withColumn("__x", F.col("longitude").cast("double"))
            .withColumn("__y", F.col("latitude").cast("double"))
            .withColumn(
                "create_date_ts", F.timestamp_seconds(F.col("create_date_unix").try_cast("long"))
            ),
            zone_tables,
            "__x",
            "__y",
            "create_date_ts",
        ).drop("__x", "__y", "create_date_ts")

    # 4c) parent/child integration (integrate_new_requests.py)
    parents = incoming.filter(~F.col("child_ticket"))
    children = incoming.filter(F.col("child_ticket"))
    rollup = R.child_ticket_rollup(
        children, "parent_ticket_id", "ticket_id", "anon_comments"
    ).withColumnRenamed("parent_ticket_id", "ticket_id")
    linked = (
        parents.join(rollup, "ticket_id", "left")
        .withColumn("num_requests", F.coalesce(F.col("cts"), F.lit(0)) + 1)
        .withColumn("parent_closed", F.col("status_name") == "closed")
        .drop("cts")
    )

    # master tables: latest-wins upsert
    if catalog.exists("all_tickets_current_status"):
        catalog.merge_upsert(
            "all_tickets_current_status",
            incoming,
            "ticket_id",
            [c for c in incoming.columns if c != "ticket_id"],
            ["last_action_unix"],
        )
    else:
        catalog.create_or_replace(incoming, "all_tickets_current_status")
    if catalog.exists("all_linked_requests"):
        catalog.merge_upsert(
            "all_linked_requests",
            linked,
            "ticket_id",
            [c for c in linked.columns if c != "ticket_id"],
            ["last_action_unix"],
        )
    else:
        catalog.create_or_replace(linked, "all_linked_requests")

    # 4d) scrubbed export (drop_pii, transform_enrich_requests.py:97-117)
    export = catalog.read("all_linked_requests").drop(
        "comments", "pii_input_address", "street_num", "cross_street_name"
    )
    return export


def cherwell_pipeline(
    catalog: ManagedCatalog,
    raw: DataFrame,
    master_table: str = "all_incidents",
    key: str = "incident_id",
    order_col: str = "last_modified_unix",
) -> DataFrame:
    """Master-table sync pipeline (SURVEY §3.2, cherwell_incidents_airflow.py:
    140-141): fields[]-array unnesting → format dedup → generic incremental
    merge (insert_new + sync_update + dedup_latest) into the master table.

    ``raw`` carries a Cherwell-shaped ``fields`` array<struct<name,value>>;
    the extraction list mirrors ExtractFieldWithComplexity usage
    (cherwell_incidents_dataflow.py:39-75)."""
    incoming = raw
    for field_name, out_col in [
        ("IncidentID", key),
        ("Status", "status"),
        ("LastModifiedDateTime", "last_modified"),
    ]:
        incoming = X.extract_field_with_complexity(
            incoming, "fields", "name", field_name, "value", out_col
        )
    incoming = incoming.drop("fields")
    incoming = X.change_data_types(
        incoming, [(key, "int"), ("last_modified", "int")]
    ).withColumnRenamed("last_modified", order_col)
    incoming = R.dedup_latest(incoming, [key], [order_col])

    if catalog.exists(master_table):
        catalog.merge_upsert(
            master_table,
            incoming,
            key,
            [c for c in incoming.columns if c != key],
            [order_col],
        )
    else:
        catalog.create_or_replace(incoming, master_table)
    return catalog.read(master_table)


def c4_clean(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4 line cleaning as one stage: the documents C4 keeps, as
    (``id_col``, ``text_col``) with the cleaned text.

    The C4 audit frame is checkpointed BEFORE the keep-filter (r13): the
    ``keep`` predicate embeds the whole C4 expression chain (and any
    HOF-built fixture below it), and Catalyst pushes the filter below
    fan_out's round-robin exchange. The q_curation_pipeline SQL-tab
    decomposition measured the chain re-evaluated per row on the
    SINGLE-TASK scan side (3.0 s + 2.0 s one-task jobs inside the kept
    checkpoint, ~half its 5.0 s wall), then again at full width for
    ``kept_text``. The barrier pins evaluation above the exchange, at full
    width, exactly once, and pays the chain once for every consumer that
    would otherwise re-execute it through lineage (in
    corpus_curation_pipeline, gopher's three feature pipelines and the
    left-semi); the keep-filter is then a trivial filter over the cached
    frame."""
    from data_rivers_spark.operators import textstats as TX

    c4 = TX.c4_quality_filter(docs, text_col, id_col)
    c4 = stage(c4.select(id_col, "kept_text", "keep"), "c4_clean")
    return c4.filter(F.col("keep")).select(F.col(id_col), F.col("kept_text").alias(text_col))


def corpus_curation_pipeline(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    dedup_threshold: float = 0.8,
    sample_fraction: float = 1.0,
    test_fraction: float = 0.05,
    pack_budget: int = 2048,
    seed: int | str = 0,
    dsir_target=None,
    select_k: int | None = None,
    mix_budget: float | None = None,
    mix_group=None,
    epoch_cap: float = 4.0,
    dsir_buckets: int = 4096,
) -> DataFrame:
    """The full training-corpus preparation chain, composed from the
    oracled building blocks in the order the modern pipelines run them
    (C4 → Gopher → global paragraph dedup → MinHash-LSH near-dup dedup →
    benchmark decontamination → deterministic sample → train/test split →
    sequence packing):

    1. C4 line cleaning (c4_quality_filter) — doc rejected or its kept
       lines become the working text.
    2. Gopher repetition filter over the cleaned text.
    3. Corpus-global paragraph dedup (first occurrence wins).
    4. MinHash-LSH near-dup dedup of whole documents.
    5. Decontamination vs the benchmark set (skipped when None).
    6. Content-hash sampling + leakage-safe split.
    7. Token counting + per-split sequence packing.

    Round-11 SELECTION/MIXING tail (replaces steps 6-7 when enabled —
    q_curation_select_mix is the oracled query form): pass ``select_k``
    (+ ``dsir_target``, a DataFrame of exemplar docs or a callable applied
    to the cleaned corpus) to DSIR-weight the deduped corpus toward the
    target and keep the Gumbel-top-k; pass ``mix_budget`` (+ ``mix_group``,
    a group Column/column name) to materialize the selected set as a UniMax
    epoch-capped training mix — clean → dedup → select → mix end to end.
    Stage boundaries are localCheckpointed at doc scale (cleaned corpus)
    and at k rows (selected set), the materialize-the-batch posture.

    Each stage is the operator already verified by its own driver oracle;
    this function pins the COMPOSITION (column contracts between stages),
    which the end-to-end test exercises. Output: one row per surviving doc
    with (id, text, n_tokens, split, chunk_idx) — or, in select/mix mode,
    one row per (selected doc, epoch)."""
    from data_rivers_spark.operators import dedup as D
    from data_rivers_spark.operators import sampling as SA
    from data_rivers_spark.operators import textstats as TX

    cleaned = c4_clean(docs, text_col, id_col)
    gopher = TX.gopher_repetition_filter(cleaned, text_col, id_col)
    kept = cleaned.join(
        gopher.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    para = D.paragraph_dedup(kept, text_col, id_col)
    para_docs = (
        para.filter(F.col("n_kept") > 0)
        .select(F.col(id_col), F.col("dedup_text").alias(text_col))
    )
    # bands=None → lsh_plan-derived banding at config time (r13, closing
    # the r12 verdict's composite-banding note): at the default
    # threshold=0.7 / 32 hashes the planner returns 16 bands × 2 rows —
    # per-pair miss (1-J^2)^16 ≈ 2e-5, a design bound, not corpus luck —
    # and a caller overriding dedup_threshold now gets a re-derived split
    # instead of a stale literal (planner parity is test-pinned).
    deduped = D.minhash_lsh_dedup(
        para_docs, text_col, id_col, threshold=dedup_threshold,
        num_hashes=32, bands=None,
    )
    if benchmark is not None:
        flagged = TX.flag_contaminated(deduped, benchmark, text_col, id_col)
        deduped = flagged.filter(~F.col("contaminated")).select(id_col, text_col)
    if select_k is not None:
        from data_rivers_spark.operators import importance as IMP

        # the select/mix tail REPLACES sample→split→pack (steps 6-7): a
        # caller passing non-default values for those alongside select_k
        # would get no effect and no signal — refuse instead (r11 advice)
        ignored = [
            name
            for name, val, default in (
                ("sample_fraction", sample_fraction, 1.0),
                ("test_fraction", test_fraction, 0.05),
                ("pack_budget", pack_budget, 2048),
            )
            if val != default
        ]
        if ignored:
            raise ValueError(
                "corpus_curation_pipeline: select_k replaces the "
                "sample/split/pack tail, so these non-default parameters "
                f"would be silently ignored: {', '.join(ignored)} — drop "
                "them or drop select_k"
            )

        # stage boundary: the DSIR featurize has three consumers of the
        # cleaned corpus (pool featurize x2 — dsir_importance_weights
        # recomputes it by measured choice — final weight join)
        deduped = stage(deduped, "dsir_corpus")
        target = dsir_target(deduped) if callable(dsir_target) else dsir_target
        weighted = IMP.dsir_importance_weights(
            deduped, text_col, id_col, target,
            num_buckets=dsir_buckets, seed=seed,
        )
        selected = IMP.dsir_resample(weighted, id_col, "log_weight", select_k, seed)
        if mix_budget is not None:
            grp = F.col(mix_group) if isinstance(mix_group, str) else mix_group
            toks = stage(  # k rows; unimax consumes it twice
                selected.select(
                    F.col(id_col),
                    grp.alias("__grp"),
                    F.col("log_weight"),
                    TX.token_count_ws(F.col(text_col)).alias("n_tokens"),
                ),
                "mix_tokens",
            )
            return SA.unimax_sample(
                toks, id_col, "__grp", "n_tokens",
                total_budget=float(mix_budget), epoch_cap=epoch_cap, seed=seed,
            ).withColumnRenamed("__grp", "mix_group")
        return selected
    sampled = SA.deterministic_sample(deduped, id_col, sample_fraction, seed)
    split = SA.train_test_split(sampled, id_col, test_fraction, seed)
    counted = split.withColumn("n_tokens", TX.token_count_ws(F.col(text_col)))
    # scalable pack (r12): the window form would run ONE task per split —
    # corpus/2 rows per task at scale; the two-pass per-partition-prefix
    # twin produces identical chunk_idx with no per-group serialization
    packed = TX.sequential_pack_scalable(
        counted, "n_tokens", id_col, budget=pack_budget, group_col="split"
    )
    return packed
