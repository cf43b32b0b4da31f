"""Declarative pipeline specs: the reference's config-first ergonomics on
Spark.

The reference composes every pipeline from configuration — an Airflow DAG
chains BashOperator/BigQueryOperator steps whose behavior is a per-source
config block (qalert_airflow.py:62-249; the 12-ParDo transform list at
qalert_requests_dataflow.py:128-147 IS a declarative op list in code form).
A user porting such a pipeline shouldn't have to hand-write DataFrame
chains: ``run_spec`` interprets a plain dict (JSON/YAML-shaped — no custom
classes, so specs serialize and diff) into the engine's operator calls.

    spec = {
        "source": {"table": "documents"},           # from load_tables(sf_dir)
        "steps": [
            {"op": "filter", "where": "trim(text) != ''"},
            {"op": "columns_camel_to_snake_case"},
            {"op": "dedup_latest", "keys": ["doc_id"], "order_cols": ["doc_id"]},
        ],
        "select": ["doc_id", "text"],               # optional final projection
    }
    df = run_spec(spark, spec, sf_dir)

Step params mirror the operator keyword arguments exactly (the spec IS the
call), so the operator docstrings are the spec reference.

Scale posture: the interpreter only ASSEMBLES the lazy DataFrame plan —
it adds zero execution overhead and Catalyst sees exactly the chain a
hand-written pipeline would build, so pushdown/pruning/broadcast decisions
are identical. Steps are data, so a deployment can version, review, and
generate them.

EXCEPTIONS — verbs that execute jobs at spec-interpretation time (exactly
as their operators do when called by hand; spec authors should expect
Spark jobs to fire during ``run_spec``, not only when the result is
consumed): ``bpe_train_merges`` runs the full driver-side training loop
(one per-round argmax collect + eager vocab localCheckpoint per merge
round), ``unigram_logprob_score`` / ``perplexity_buckets`` eagerly
localCheckpoint their vocabulary-sized LM frame so the scoring join and
the corpus-total aggregate share one cached copy instead of re-deriving
the tokenize subtree per consumer, and ``bpe_encode`` eagerly
localCheckpoints its encoded vocabulary every ``checkpoint_every`` merges
for the same plan-depth reason, the generic ``materialize`` verb IS an
eager localCheckpoint by definition (a declarative stage boundary), and
``quality_classifier_filter`` runs its gradient-descent training loop
(model-sized collects per iteration) when the spec is interpreted.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_rivers_spark.operators import chunking as CH
from data_rivers_spark.operators import dedup as D
from data_rivers_spark.operators import geo as G
from data_rivers_spark.operators import geocode as GC
from data_rivers_spark.operators import importance as IM
from data_rivers_spark.operators import multimodal as MM
from data_rivers_spark.operators import relational as R
from data_rivers_spark.operators import sampling as SA
from data_rivers_spark.operators import similarity as SIM
from data_rivers_spark.operators import textnorm as TN
from data_rivers_spark.operators import textstats as TX
from data_rivers_spark.operators import transforms as T
from data_rivers_spark.session import load_tables, stage


def _simple(fn: Callable) -> Callable:
    """Adapter for ops whose signature is (df, **params)."""

    def run(df: DataFrame, params: dict) -> DataFrame:
        return fn(df, **params)

    return run


def _two(fn: Callable, right_param: str) -> Callable:
    """Adapter for two-frame ops (CTX_OPS): the spec param named
    ``right_param`` is a nested input node (bare source or full sub-spec,
    resolved by ``subframe``); everything else passes through as keyword
    arguments. The verb keeps the operator's own parameter name for the
    second frame, so the spec reads like the call (r12)."""

    def run(df: DataFrame, params: dict, subframe) -> DataFrame:
        right = subframe(params[right_param])
        rest = {k: v for k, v in params.items() if k != right_param}
        return fn(df, right, **rest)

    return run


# op name -> (df, params) -> df. Names match the operator functions so a
# reader can jump from a spec straight to the implementation; generic verbs
# (filter/select/rename/sql) cover the inline-lambda steps reference DAGs
# sprinkle between named transforms.
OPS: dict[str, Callable[[DataFrame, dict], Callable]] = {
    # generic verbs
    "filter": lambda df, p: df.filter(p["where"]),
    "select": lambda df, p: df.select(*p["columns"]),
    "drop": lambda df, p: df.drop(*p["columns"]),
    "rename": lambda df, p: df.withColumnsRenamed(p["mapping"]),
    "with_column": lambda df, p: df.withColumn(p["name"], F.expr(p["expr"])),
    "distinct": lambda df, p: df.distinct(),
    "limit": lambda df, p: df.limit(int(p["n"])),
    # declarative stage boundary: eagerly localCheckpoint the frame so the
    # steps above run ONCE even when later steps consume the frame more
    # than once (unimax_sample's allocation aggregate + join, DSIR's
    # featurize consumers). An execute-at-interpretation-time verb — see
    # the EXCEPTIONS note in the module docstring.
    "materialize": lambda df, p: stage(df, "materialize", bool(p.get("eager", True))),
    # shared transform library (SURVEY §2.1/2.2)
    "columns_camel_to_snake_case": _simple(T.columns_camel_to_snake_case),
    "columns_to_lower_case": _simple(T.columns_to_lower_case),
    "swap_field_names": _simple(T.swap_field_names),
    "filter_fields": _simple(T.filter_fields),
    "change_data_types": _simple(T.change_data_types),
    "convert_booleans": _simple(T.convert_booleans),
    "convert_string_case": _simple(T.convert_string_case),
    "strip_strings": _simple(T.strip_strings),
    "strip_before_delim": _simple(T.strip_before_delim),
    "prepend_characters": _simple(T.prepend_characters),
    "replace_chars": _simple(T.replace_chars),
    "reformat_phone_numbers": _simple(T.reformat_phone_numbers),
    "filter_outliers": _simple(T.filter_outliers),
    "anonymize_address_block": _simple(T.anonymize_address_block),
    "anonymize_lat_long": _simple(T.anonymize_lat_long),
    "standardize_times": _simple(T.standardize_times),
    "get_date_strings_from_unix": _simple(T.get_date_strings_from_unix),
    "format_and_classify_address": _simple(T.format_and_classify_address),
    "replace_pii": _simple(T.replace_pii),
    "standardize_parcel_numbers": _simple(T.standardize_parcel_numbers),
    "decode_status": _simple(T.decode_status),
    "get_closed_date": _simple(T.get_closed_date),
    "detect_child_ticket": _simple(T.detect_child_ticket),
    "deduplicate": _simple(T.deduplicate),
    "fill_leading_zeroes": _simple(T.fill_leading_zeroes),
    # relational verbs (SURVEY §2.3)
    "dedup_latest": _simple(R.dedup_latest),
    "filter_old_values": _simple(R.filter_old_values),
    "top_k_join": _simple(R.top_k_join),
    "groupwise_max": _simple(R.groupwise_max),
    "global_row_number": _simple(R.global_row_number),
    "remove_false_parents": _simple(R.remove_false_parents),
    "child_ticket_rollup": _simple(R.child_ticket_rollup),
    "time_bucket_rollup": _simple(R.time_bucket_rollup),
    # training-data curation verbs — a corpus pipeline is spec-able too
    "exact_dedup": _simple(D.exact_dedup),
    "minhash_lsh_dedup": _simple(D.minhash_lsh_dedup),
    "paragraph_dedup": _simple(D.paragraph_dedup),
    "simhash_dedup": _simple(D.simhash_dedup),
    "c4_quality_filter": _simple(TX.c4_quality_filter),
    "gopher_repetition_filter": _simple(TX.gopher_repetition_filter),
    "gopher_repetition_filter_full": _simple(TX.gopher_repetition_filter_full),
    "gopher_ngram_features": _simple(TX.gopher_ngram_features),
    "detect_language": _simple(TX.detect_language),
    "quality_features": _simple(TX.quality_features),
    "deterministic_sample": _simple(SA.deterministic_sample),
    "train_test_split": _simple(SA.train_test_split),
    # round-10: the leakage-safe split a training pipeline should actually
    # use (near-dup clusters never straddle the boundary) — was the one
    # curation operator the declarative layer couldn't express
    "cluster_safe_split": _simple(SA.cluster_safe_split),
    "dsir_resample": _simple(IM.dsir_resample),
    # round-11: the UniMax mixing tail (select via dsir_* → mix via unimax_*)
    # and the quantized ANN search mode — the last round-10 operators the
    # declarative layer couldn't spell
    "unimax_allocation": _simple(SA.unimax_allocation),
    "unimax_sample": _simple(SA.unimax_sample),
    # round-11: classifier-based quality selection (DCLM/FineWeb-Edu
    # recipe): train the hashed logistic scorer ON the incoming frame's
    # label column, score every row, keep rows above the threshold.
    # Training EXECUTES at spec-interpretation time (GD iterations =
    # model-sized collects — see the module EXCEPTIONS note).
    "quality_classifier_filter": lambda df, p: _quality_classifier_filter(df, p),
    "stratified_sample": _simple(SA.stratified_sample),
    "weighted_sample": _simple(SA.weighted_sample),
    "weighted_topk_sample": _simple(SA.weighted_topk_sample),
    "token_budget_trim": _simple(SA.token_budget_trim),
    "domain_mixture_sample": _simple(SA.domain_mixture_sample),
    "domain_mixture_upsample": _simple(SA.domain_mixture_upsample),
    "duplicate_span_stats": _simple(D.duplicate_span_stats),
    "kmeans_semantic_dedup": _simple(SIM.kmeans_semantic_dedup),
    "chunk_documents": _simple(CH.chunk_documents),
    "chunk_and_pack": _simple(CH.chunk_and_pack),
    "chunk_by_sentences": _simple(CH.chunk_by_sentences),
    "nfc_normalize_text": _simple(TN.nfc_normalize_text),
    "remove_repeated_lines": _simple(TN.remove_repeated_lines),
    # round-7 verb additions: the last registered op families that had no
    # spec spelling (BPE training, CCNet perplexity trim, URL telemetry)
    "word_frequency_table": _simple(TX.word_frequency_table),
    "bpe_pair_counts": _simple(TX.bpe_pair_counts),
    "bpe_train_merges": _simple(TX.bpe_train_merges),
    # round-8: tokenizer APPLICATION (merges spec'd as [[left, right], ...])
    "bpe_encode": lambda df, p: TX.bpe_encode(
        df, p["text_col"], p["id_col"],
        [tuple(m) for m in p["merges"]],
        checkpoint_every=int(p.get("checkpoint_every", 8)),
        # None = measure-and-decide (bpe_encode's default); an explicit
        # spec value forces the join strategy either way
        broadcast_vocab=(
            None if p.get("broadcast_vocab") is None
            else bool(p["broadcast_vocab"])
        ),
    ),
    "unigram_logprob_score": _simple(TX.unigram_logprob_score),
    "perplexity_buckets": _simple(TX.perplexity_buckets),
    "url_domain_stats": _simple(TX.url_domain_stats),
    # geo verbs (single-frame; the two-frame revgeo join is a CTX op below)
    "city_limits_classify": _simple(G.city_limits_classify),
    # embedding verbs (bucket-first near-dup dispatch, see similarity.py)
    "embedding_near_dup_pairs": _simple(SIM.embedding_near_dup_pairs),
    "embedding_near_dup_pairs_lsh": _simple(SIM.embedding_near_dup_pairs_lsh),
    "cosine_topk_self": lambda df, p: SIM.cosine_topk(
        df, df.filter(p["query_where"]), p["vec_col"], p["id_col"], int(p["k"])
    ),
    "sq8_topk_self": lambda df, p: SIM.sq8_topk(
        df, df.filter(p["query_where"]), p["vec_col"], p["id_col"], int(p["k"])
    ),
    # ------------------------------------------------------------------
    # r12 verb widening: every public single-frame operator is now
    # spec-expressible (the test_spec verb-inventory test walks the
    # operator modules and enforces this mechanically — future operators
    # must either get a verb or an explicit exclusion with a reason)
    # --- dedup / similarity pair, sketch, and store surfaces
    "minhash_lsh_verified_pairs": _simple(D.minhash_lsh_verified_pairs),
    "minhash_lsh_candidates": _simple(D.minhash_lsh_candidates),
    "connected_components": _simple(D.connected_components),
    "group_banded_store": _simple(D.group_banded_store),
    "lsh_bucket_stats": _simple(D.lsh_bucket_stats),
    "ngram_jaccard_pairs": _simple(D.ngram_jaccard_pairs),
    "simhash_column": _simple(D.simhash_column),
    "simhash_near_pairs": _simple(D.simhash_near_pairs),
    "assign_kmeans_clusters": _simple(SIM.assign_kmeans_clusters),
    "signlsh_buckets": _simple(SIM.signlsh_buckets),
    # --- relational report / shaping verbs
    "distinct_values_table": _simple(R.distinct_values_table),
    "bucketed_report": lambda df, p: R.bucketed_report(
        df, p["bucket_col"], [tuple(b) for b in p["buckets"]],
        p["group_cols"], out_col=p.get("out_col", "bucket"),
    ),
    "percentage_table": _simple(R.percentage_table),
    "flatten_hierarchy": _simple(R.flatten_hierarchy),
    "global_row_number_scalable": _simple(R.global_row_number_scalable),
    "linked_tickets_array": _simple(R.linked_tickets_array),
    "salted_count": _simple(R.salted_count),
    # --- text statistics / curation report verbs
    "corpus_report": _simple(TX.corpus_report),
    "fingerprint": _simple(TX.fingerprint),
    "shingle_fingerprints": _simple(TX.shingle_fingerprints),
    "inverted_index": _simple(TX.inverted_index),
    "vocabulary": _simple(TX.vocabulary),
    "tf_idf_top_terms": _simple(TX.tf_idf_top_terms),
    "sequential_pack": _simple(TX.sequential_pack),
    "sequential_pack_scalable": _simple(TX.sequential_pack_scalable),
    "quantile_trim": _simple(TX.quantile_trim),
    "quantile_trim_approx": _simple(TX.quantile_trim_approx),
    "normalize_text": _simple(TX.normalize_text),
    "line_repetition_stats": _simple(TX.line_repetition_stats),
    "dup_ngram_char_fraction": _simple(TX.dup_ngram_char_fraction),
    "top_ngram_char_fraction": _simple(TX.top_ngram_char_fraction),
    "evaluate_classifier_thresholds": _simple(
        TX.evaluate_classifier_thresholds
    ),
    "classifier_auc": _simple(TX.classifier_auc),
    "classifier_pr_auc": _simple(TX.classifier_pr_auc),
    "classifier_calibration": _simple(TX.classifier_calibration),
    # --- reference transform stragglers
    "account_code_conversion": _simple(T.account_code_conversion),
    "convert_geography": _simple(T.convert_geography),
    "extract_field": _simple(T.extract_field),
    "extract_field_with_complexity": _simple(T.extract_field_with_complexity),
    "extract_middle_initial": _simple(T.extract_middle_initial),
    "identify_active_permits": _simple(T.identify_active_permits),
    "set_col_b_based_on_col_a_val": _simple(T.set_col_b_based_on_col_a_val),
    "standardize_ethnicity_names": _simple(T.standardize_ethnicity_names),
    "swap_two_columns": _simple(T.swap_two_columns),
    "unnest_two_level": _simple(T.unnest_two_level),
    "get_vals_from_crosswalk": _simple(T.get_vals_from_crosswalk),
    # --- multimodal (decoder defaults to the documented deterministic
    # stub; a deployment with real codecs registers its decoder via
    # extra_ops or calls the operators directly)
    "perceptual_hash": _simple(MM.perceptual_hash),
    "media_stats": _simple(MM.media_stats),
    "media_dedup": _simple(MM.media_dedup),
    "media_near_dup_pairs": _simple(MM.media_near_dup_pairs),
    "extract_features": _simple(MM.extract_features),
    "resize_images": _simple(MM.resize_images),
    "sample_video_frames": _simple(MM.sample_video_frames),
}


def _quality_classifier_filter(df: DataFrame, p: dict) -> DataFrame:
    """Train-then-filter quality selection (textstats.train_hashed_classifier
    + score_hashed_classifier): the spec spelling of 'train a fastText-style
    scorer on the labeled batch and keep what scores above threshold'.

    ``out_col`` (default clf_score) names the score column; a pre-existing
    column of that name is dropped before scoring — score_hashed_classifier
    appends to *df.columns, so a collision (e.g. a prior scoring step in the
    same spec) would otherwise produce duplicate column names and an
    ambiguous-reference failure at the filter (r11 advice)."""
    from data_rivers_spark.operators import textstats as TX

    nb = int(p.get("num_buckets", 1024))
    out_col = p.get("out_col", "clf_score")
    w, b = TX.train_hashed_classifier(
        df, p["text_col"], p["id_col"], p["label_col"],
        num_buckets=nb, iterations=int(p.get("iterations", 2)),
        lr=float(p.get("lr", 5.0)), seed=p.get("seed", "w"),
    )
    scored = TX.score_hashed_classifier(
        df.drop(out_col), p["text_col"], p["id_col"], w, b, num_buckets=nb,
        seed=p.get("seed", "w"), out_col=out_col,
    )
    return scored.filter(F.col(out_col) >= float(p["keep_threshold"]))


def _revgeo_timebound(df: DataFrame, params: dict, subframe) -> DataFrame:
    """Spec verb for the QAlert DAG's centerpiece (qalert_airflow.py:134-146):
    ``zones`` is a nested input — a bare source ({'table': ...}/{'path': ...})
    or a full sub-spec with its own steps — and the remaining params pass
    through to operators.geo.revgeo_timebound_join (its projection/grid
    auto-choice included)."""
    zones = subframe(params["zones"])
    return G.revgeo_timebound_join(
        df, zones, **{k: v for k, v in params.items() if k != "zones"}
    )


def _join(df: DataFrame, params: dict, subframe) -> DataFrame:
    right = subframe(params["right"])
    if params.get("broadcast"):
        right = F.broadcast(right)
    return df.join(right, params["on"], params.get("how", "inner"))


def _dsir_weights(df: DataFrame, params: dict, subframe) -> DataFrame:
    """Round-10 spec verb for DSIR data selection: ``target`` names the
    distribution to match — a nested input (bare source / full sub-spec),
    or ``{"from": "input", "steps": [...]}`` to derive the target from the
    INCOMING frame itself (the usual shape: 'weight the pool toward its own
    high-quality slice')."""
    node = params["target"]
    if isinstance(node, dict) and node.get("from") == "input":
        target = run_spec(
            df.sparkSession, {"steps": node.get("steps", [])}, source_df=df
        )
    else:
        target = subframe(node)
    return IM.dsir_importance_weights(
        df, target=target, **{k: v for k, v in params.items() if k != "target"}
    )


# two-input verbs: (df, params, subframe) -> df, where ``subframe`` resolves
# a nested input node into a DataFrame (recursively via run_spec, so the
# second input can itself be a declarative pipeline)
CTX_OPS: dict[str, Callable] = {
    "join": _join,
    "union": lambda df, p, subframe: df.unionByName(
        subframe(p["right"]), allowMissingColumns=bool(p.get("allow_missing"))
    ),
    "revgeo_timebound": _revgeo_timebound,
    "dsir_importance_weights": _dsir_weights,
    # r12 two-frame verb widening via _two: the second frame is a nested
    # input node under the operator's own parameter name
    # --- relational merge / sync family (the reference's BQ merge verbs)
    "upsert": _two(R.upsert, "incoming"),
    "insert_new_records": _two(R.insert_new_records, "incoming"),
    "sync_update": _two(R.sync_update, "staging"),
    "incremental_merge": _two(R.incremental_merge, "incoming"),
    "full_refresh_merge": _two(R.full_refresh_merge, "old"),
    "detect_changed_rows": _two(R.detect_changed_rows, "staging"),
    "snapshot_append": _two(R.snapshot_append, "new"),
    "data_quality_new_values": _two(R.data_quality_new_values, "old_ref"),
    "merge_linked_arrays": _two(R.merge_linked_arrays, "incoming"),
    "filter_old_values": _two(R.filter_old_values, "temp"),
    "increment_counts": _two(R.increment_counts, "increments"),
    "append_to_text_field": _two(R.append_to_text_field, "src"),
    "asof_join": _two(R.asof_join, "right"),
    "range_join_bucketed": _two(R.range_join_bucketed, "intervals"),
    "salted_join": _two(R.salted_join, "skewed_small"),
    # --- decontamination (benchmark set as the second frame)
    "flag_contaminated": _two(TX.flag_contaminated, "benchmark"),
    "remove_contaminated_spans": _two(TX.remove_contaminated_spans, "benchmark"),
    # --- pair-consuming dedup closers
    "dedup_by_components": _two(D.dedup_by_components, "pairs"),
    "verify_pairs_jaccard": _two(D.verify_pairs_jaccard, "pairs"),
    # --- ANN search with an explicit query frame (self-variants of
    # cosine/sq8 live in OPS for the single-frame spelling)
    "cosine_topk": _two(SIM.cosine_topk, "queries"),
    "sq8_topk": _two(SIM.sq8_topk, "queries"),
    "ivf_topk": _two(SIM.ivf_topk, "queries"),
    "signlsh_topk": _two(SIM.signlsh_topk, "queries"),
    # --- crosswalk decode with a frame-shaped crosswalk (the dict form is
    # the get_vals_from_crosswalk OPS verb)
    "crosswalk_join": _two(T.crosswalk_join, "crosswalk_df"),
    # --- geo / geocode second-frame verbs
    "parcel_centroid_join": _two(G.parcel_centroid_join, "parcels"),
    "nearest_zone_fallback": _two(G.nearest_zone_fallback, "zones"),
    "geocode_with_crosswalk": _two(GC.geocode_with_crosswalk, "crosswalk"),
}


def run_spec(
    spark: SparkSession,
    spec: dict,
    sf_dir: str | None = None,
    source_df: DataFrame | None = None,
    extra_ops: dict[str, Callable] | None = None,
) -> DataFrame:
    """Interpret a pipeline spec into a lazy DataFrame.

    ``source_df`` overrides the spec's source (tests, or chaining specs);
    ``extra_ops`` lets a deployment register custom steps without forking
    the interpreter. Unknown ops fail fast with the full valid-name list —
    a config typo should die at plan-build time, not mid-run."""
    ops = {**OPS, **(extra_ops or {})}

    def resolve_source(src: dict) -> DataFrame:
        if "table" in src:
            if sf_dir is None:
                raise ValueError("sf_dir required for a {'table': ...} source")
            return load_tables(spark, sf_dir, [src["table"]])[src["table"]]
        if "path" in src:
            return spark.read.format(src.get("format", "parquet")).load(src["path"])
        raise ValueError(f"source needs 'table' or 'path', got {sorted(src)}")

    def subframe(node: dict) -> DataFrame:
        # nested input of a two-frame verb: either a bare source or a full
        # sub-spec (recursion — the joined side is a reviewable pipeline too)
        if "source" in node or "steps" in node:
            return run_spec(spark, node, sf_dir, extra_ops=extra_ops)
        return resolve_source(node)

    if source_df is not None:
        df = source_df
    else:
        df = resolve_source(spec["source"])
    for i, step in enumerate(spec.get("steps", [])):
        op = step.get("op")
        params = {k: v for k, v in step.items() if k != "op"}
        if op in CTX_OPS and op not in ops:
            df = CTX_OPS[op](df, params, subframe)
        elif op in ops:
            df = ops[op](df, params)
        else:
            raise ValueError(
                f"step {i}: unknown op {op!r}; valid ops: "
                f"{sorted(set(ops) | set(CTX_OPS))}"
            )
    if "select" in spec:
        df = df.select(*spec["select"])
    return df


def backfill(
    spark: SparkSession,
    catalog,
    table: str,
    spec: dict,
    partition_col: str,
    partitions: list,
) -> int:
    """Replay a pipeline over selected partitions of a managed table — the
    engine's form of the reference's Airflow backfill (re-run a DAG over a
    date range after a transform fix, airflow catchup/backfill semantics).

    Reads ONLY the named partitions from ``table``, runs the spec's steps
    over them (the spec's own ``source`` is ignored — the backfill source
    is the table), and writes the result back via
    ``catalog.overwrite_partitions`` — O(touched partitions) thanks to the
    hard-link retention of untouched ones, with the all-or-nothing version
    swap keeping concurrent readers on a consistent snapshot throughout.

    The partition filter is a plain ``isin`` on the partition column, so it
    prunes at the scan (partition pruning, no full-table read). Returns the
    number of rows written. Steps must preserve the partition column —
    dropping it would silently re-home rows; that raises instead."""
    src = catalog.read(table).filter(F.col(partition_col).isin(partitions))
    out = run_spec(spark, {**spec, "source": {"table": "__ignored__"}},
                   source_df=src)
    if partition_col not in out.columns:
        raise ValueError(
            f"backfill steps dropped partition column {partition_col!r}; "
            "the rewritten rows could not be re-partitioned"
        )
    out = stage(out, "backfill")  # sever from the table being replaced
    n = out.count()
    catalog.overwrite_partitions(table, out, [partition_col])
    return n


def run_spec_incremental(
    spark: SparkSession,
    catalog,
    run_log,
    source: str,
    table: str,
    spec: dict,
    watermark_col: str,
    target_table: str,
    merge_keys: list[str] | None = None,
    order_cols: list[str] | None = None,
    default_since=None,
) -> int:
    """Incremental spec execution: process ONLY the rows newer than the
    stored watermark, land them, and advance the watermark on success —
    the reference's cron-cadence contract (watermark-since extraction +
    merge-into-master, qalert_requests_gcs.py:22-71 + SURVEY §3.2) with a
    declarative transform in the middle.

    Reads ``table`` filtered to ``watermark_col > last watermark`` (a
    pushable range predicate — at scale this is partition/row-group
    pruning, not a full scan), runs the spec's steps, then either
    ``merge_upsert``s into ``target_table`` (``merge_keys`` given —
    replayed batches upsert idempotently) or appends. The new watermark
    (max of ``watermark_col`` over the processed batch, read from the
    batch BEFORE transforms can drop the column) is recorded only AFTER
    the write succeeds, so a mid-run failure reprocesses the same window
    on retry — at-least-once, made safe by the merge path.

    Returns the number of source rows processed (0 = no-op, watermark
    untouched)."""
    since = run_log.last_successful_run(source, default_since)
    src = catalog.read(table)
    if since is not None:
        src = src.filter(F.col(watermark_col) > F.lit(since))
    src = stage(src, "incremental_batch")  # one scan feeds count/max/transform
    stats = src.agg(
        F.count(F.lit(1)).alias("n"), F.max(watermark_col).alias("mx")
    ).first()
    if not stats.n:
        return 0
    out = run_spec(spark, {**spec, "source": {"table": "__ignored__"}},
                   source_df=src)
    if merge_keys:
        if catalog.exists(target_table):
            catalog.merge_upsert(
                target_table, out, merge_keys,
                [c for c in out.columns if c not in merge_keys],
                order_cols or [watermark_col],
            )
        else:
            catalog.create_or_replace(out, target_table)
    elif catalog.exists(target_table):
        catalog.insert_into(target_table, out)
    else:
        catalog.create_or_replace(out, target_table)
    run_log.record_successful_run(source, str(stats.mx), rows=stats.n)
    return stats.n
