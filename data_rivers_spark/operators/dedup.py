"""Large-scale deduplication operators for training-data pipelines.

Beyond the reference's dropDuplicates-style dedup (SURVEY §2.1 #Deduplicate),
these are the operators a 100 TB corpus pipeline needs: exact (hash-keyed),
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification.

Scale design notes:
- exact_dedup groups on xxhash64(text), never the full text — the shuffle key
  is 8 bytes instead of kilobytes; collisions are resolved by a second exact
  comparison within hash groups.
- minhash_lsh is the classic shingle → k-minhash → band-bucket → candidate
  join pipeline: only documents sharing a band bucket are ever paired, so the
  quadratic step is confined to bucket-local candidates. All hashing is
  xxhash64 (JVM codegen) — no Python in the pipeline.
- simhash uses one Arrow-batched pandas UDF (numpy bit-twiddling beats a
  64-term codegen expression tree); hamming distance stays native via
  bit_count(xor).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_rivers_spark.session import fan_out, plan_partitions, stage

# ---------------------------------------------------------------------------
# Tokenize / shingle helpers (shared with textstats)
# ---------------------------------------------------------------------------


def words(text: Column) -> Column:
    """Lowercased whitespace tokens; empty/whitespace-only text → empty
    array, and NEVER an empty-string token. F.trim strips ASCII space only,
    so the old trim+split let '\\n'-padded text smuggle '' tokens into every
    downstream consumer (shingles, vocabularies, BPE symbol counts — found
    by the BPE conservation property test). The edge trim is btrim with the
    Java \\s charset [ \\t\\n\\x0B\\f\\r] — identical result to a
    regexp_replace('^\\s+|\\s+$') trim (property-verified), but an
    edges-only charset scan instead of a full-string regex pass: the regexp
    form cost 30-40% of whole queries (measured at sf0.1 on
    c4/paragraph/unigram, whose fixtures evaluate words() several times per
    row inside HOF lambdas, where no common-subexpression elimination
    applies). After the trim, an interior \\s+ split cannot produce
    empties. Whole-stage-codegen throughout, unlike an array filter."""
    t = F.lower(F.btrim(text, F.lit(" \t\n\x0b\f\r")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-gram word shingles as strings ('w1 w2 w3'); documents shorter than n
    words yield the whole text as a single shingle.

    NOTE: this is the array-expression form (handy for per-row use); it is a
    higher-order function and therefore interpreted. Pipelines over large
    corpora should use ``word_shingle_rows`` (codegen, ~20× faster)."""
    ws = words(text)
    k = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    make = lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n))  # noqa: E731
    return F.when(k <= n, F.array(F.concat_ws(" ", ws))).otherwise(F.transform(idx, make))


def _shingle_partition_count(df: DataFrame, num_partitions: int | None) -> int:
    """Partition count for the pre-explode id repartition.

    Never BELOW defaultParallelism (AQE byte-sizing collapses short-text
    corpora to one partition — see char_shingle_rows), and never below the
    input's own partition count either: a genuinely wide input (thousands
    of splits on a real corpus) must not collapse to core count, or the
    post-explode partitions blow up ~|text|x in size. Callers that know
    better pass ``num_partitions`` explicitly."""
    if num_partitions is not None:
        return num_partitions
    # memoized physical-plan probe (r13): df.rdd re-planned the whole
    # lineage per call — ~0.26 s of plan-time driver latency per shingle
    # build, paid on every query construction
    return max(
        df.sparkSession.sparkContext.defaultParallelism, plan_partitions(df) or 0
    )


def word_shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """One row per n-gram word shingle: (id, shingle) — same semantics as
    word_shingles but built with posexplode + window lead, which stays in
    whole-stage codegen (the HOF form interpreted ~5s of a 6s pipeline at
    260k shingles). The window's hash(id) shuffle also pre-partitions the
    stream for the downstream per-doc signature aggregation."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    # repartition on id BEFORE exploding: the window needs id-clustering
    # anyway, and hashing doc rows (one text each) moves far fewer bytes
    # than hashing the exploded word rows — and the explode+lead compute
    # then runs at full core parallelism instead of the scan's. Explicit
    # partition count: AQE sizes shuffles by bytes, and short-text corpora
    # are tiny on the wire but explode ~|text|x in compute — byte-based
    # coalescing collapsed this stage to one partition (see
    # char_shingle_rows for the measurement)
    exploded = df.repartition(
        _shingle_partition_count(df, num_partitions), F.col(id_col)
    ).select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("__pos", "__w")
    )
    leads = [F.col("__w")] + [F.lead("__w", i).over(w) for i in range(1, n)]
    cnt = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    return (
        exploded.withColumn("__sh", F.concat_ws(" ", *leads))
        .withColumn("__cnt", cnt)
        .filter(
            ((F.col("__cnt") > n) & (F.col("__pos") <= F.col("__cnt") - n))
            | ((F.col("__cnt") <= n) & (F.col("__pos") == 0))
        )
        .select(id_col, F.col("__sh").alias("shingle"))
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact text value.

    Hash-first: grouping on (xxhash64(text), text) makes the shuffle compare
    8 bytes while the full text resolves the astronomically rare collision,
    and the aggregation runs partially map-side, so a mega-duplicate key
    collapses inside each map task instead of skewing one reducer. A min-id
    aggregation + semi-join back reads the input twice but stays entirely
    in whole-stage codegen — measured ~40% faster on the local bench than
    carrying the whole winning row through one ``min_by(struct(*), id)``
    aggregation, whose struct buffer forces ObjectHashAggregate (no
    codegen)."""
    h = F.xxhash64(F.col(text_col))
    keep = (
        df.withColumn("__h", h)
        .groupBy("__h", text_col)
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    return df.join(keep, [id_col, text_col], "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, __set) — each doc's DISTINCT n-gram shingle set as
    ``array<long>`` of xxhash64(shingle), built with the codegen explode
    pipeline and ONE aggregation.

    This is the shared upstream of the whole LSH pipeline: MinHash over
    distinct shingles is identical to MinHash over all shingles (min is
    duplicate-blind), and exact-Jaccard verification is defined on the same
    sets — so signatures AND verification both derive from this frame, and
    the tokenize+window pass runs once per corpus, not once per consumer.
    The window inside word_shingle_rows already hash-partitions by id, so
    the collect_set aggregation needs no second shuffle.

    Sets hold the 8-byte shingle HASH, not the string: banding already
    derived every signature from xxhash64(shingle) (band hashes are
    bit-identical either way, so persisted signature stores stay valid), and
    verification's per-pair array_intersect drops from variable-length
    string comparisons to fixed-width longs — measured 2.6x on the char-LSH
    verify stage, where ~300-element char-7-gram sets dominated. Two
    distinct shingles colliding (2^-64 per pair of shingles) shift a pair's
    Jaccard by ~1/|union| — the same per-pair event class the signature
    scheme already accepts."""
    return (
        word_shingle_rows(df, text_col, id_col, n)
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64(F.col("shingle"))).alias("__set"))
    )


def _banded_from_sets(
    sets: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) rows from precomputed shingle sets."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # Explode + flat hash columns + min aggregation: higher-order functions
    # are CodegenFallback (interpreted, per-element allocations) — measured
    # ~8ms/doc for an aggregate()-based fold. This shape stays entirely in
    # whole-stage codegen, and because ``sets`` is already partitioned by id
    # the explode → min-agg round trip is shuffle-free.
    #
    # The set elements ARE the 8-byte base hashes (shingle_sets stores
    # xxhash64(shingle)); the k minhash functions derive from that base via
    # xxhash64(base, seed) — fixed-width integer re-hashes instead of k
    # string traversals, and the string itself was traversed exactly once
    # at set-build time. Two distinct shingles colliding in the base hash
    # collide in every derived hash, but that is the same 2⁻⁶⁴ per-pair
    # event class the signature scheme already accepts.
    # Expressions are built as SQL strings through selectExpr/expr: the
    # Column-API form issued ~6 py4j roundtrips per hash column (~0.8 s of
    # plan-time driver latency per banding at 32 hashes, paid on every
    # query construction); one selectExpr call ships all N strings in a
    # single roundtrip and parses them JVM-side. xxhash64(a, b) is the same
    # function either way — identical hashes, identical stores.
    # backtick-quote the interpolated id column (escaping embedded
    # backticks) so ids named with spaces/reserved words parse exactly as
    # the Column API did — the quoting discipline similarity.py/geo.py's
    # SQL builders already follow (r14 advice)
    idq = "`" + id_col.replace("`", "``") + "`"
    hashed = sets.select(id_col, F.explode("__set").alias("__hb")).selectExpr(
        idq,
        *[f"xxhash64(__hb, {i}) as __h{i}" for i in range(num_hashes)],
    )
    sig_df = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(__h{i}) as __h{i}") for i in range(num_hashes)]
    )
    band_exprs = ", ".join(
        "xxhash64("
        + ", ".join(f"__h{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return sig_df.selectExpr(
        idq,
        f"posexplode(array({band_exprs})) as (band_idx, band_hash)",
    )


def _lsh_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band_idx, band_hash) rows — the shared front half of the LSH
    pipeline (shingle → signature → banding), used by both candidate
    generation and bucket-occupancy monitoring."""
    return _banded_from_sets(
        shingle_sets(df, text_col, id_col, shingle_n), id_col, num_hashes, bands
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    rows_per_band = num_hashes // bands; two docs collide when any band of
    their signatures matches exactly. Returns distinct (id_a, id_b).

    Scale: the only shuffle is the band-bucket exchange, keyed on
    (band_idx, band_hash) — 12 bytes. Bucket-local pair expansion is
    quadratic in bucket occupancy, so buckets larger than ``bucket_cap``
    (boilerplate text: a 10⁵-doc bucket would emit 10¹⁰ pairs) switch to a
    STAR expansion — every member pairs with the bucket's minimum id only,
    O(bucket) candidates. Verify + connected components then still collapse
    a boilerplate clique to one survivor (all members link to the hub), and
    the greedy min-id drop keeps every member whose hub pair verifies; what
    a star loses is only candidates between two non-hub members that are
    near-dups of each other but NOT of the hub — rare inside a band bucket,
    whose members already share a full signature band. Use
    ``lsh_bucket_stats`` to monitor occupancy; ``bucket_cap=None``
    disables the cap."""
    banded = _lsh_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    return _expand_buckets(banded, id_col, bucket_cap)


def _expand_buckets(
    banded: DataFrame,
    id_col: str,
    bucket_cap: int | None,
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from (id, band_idx, band_hash)
    rows via bucket-local combinatoric expansion (see minhash_lsh_candidates
    for the cap semantics)."""
    # bucket-group instead of self-join: a self-join would evaluate the
    # signature pipeline twice; grouping shuffles each (id, band) row once and
    # expands pairs inside the (small) bucket with array combinatorics.
    # The bucket exchange is PINNED to an explicit width (r14): banded rows
    # are ~20 bytes each, so AQE's byte-based coalescing collapsed the
    # whole expansion — interpreted HOF pair combinatorics whose compute is
    # quadratic in bucket occupancy, the opposite of byte-proportional —
    # onto ONE task (measured: the q_char_lsh_dedup candidate stage ran
    # 1.2-1.6 s single-task; the same byte-vs-compute mismatch
    # word_shingle_rows/char_shingle_rows document). groupBy on the same
    # keys reuses the pinned partitioning, so this replaces the AQE-sized
    # exchange rather than adding one; the width never drops below the
    # input's own partition count, so a wide production banding stays wide.
    # defaultParallelism is read at PLAN time: under dynamic allocation it
    # counts the executors up at that moment, so the pin can undershoot
    # the cores the job later gets (the input's width stays the floor).
    spark_dp = banded.sparkSession.sparkContext.defaultParallelism
    width = max(spark_dp, plan_partitions(banded) or 0)
    grouped = (
        banded.repartition(width, "band_idx", "band_hash")
        .groupBy("band_idx", "band_hash")
        .agg(F.collect_list(F.col(id_col)).alias("__ids"))
    )
    return _expand_grouped_buckets(grouped, bucket_cap)


def _expand_grouped_buckets(
    grouped: DataFrame,
    bucket_cap: int | None,
    min_id_b: int | None = None,
) -> DataFrame:
    """Pair expansion over buckets ALREADY in inverted-index form
    (band_idx, band_hash, __ids array) — the shared back half of
    _expand_buckets, also fed directly by incremental_lsh_dedup (which
    assembles __ids as store-members ++ batch-members without
    re-aggregating the store).

    ``min_id_b`` restricts the GREATER side of each pair: only pairs with
    id_b >= min_id_b are emitted. The incremental path uses this to skip
    master-vs-master pairs entirely — a bucket holding only master ids emits
    nothing, inside the same codegen expression. With ``min_id_b`` set, the
    cap also tests the BATCH-side occupancy rather than total occupancy: a
    boilerplate bucket full of corpus docs but holding few batch docs still
    gets full batch-vs-all coverage (cost O(bucket × batch_members), bounded
    by bucket_cap × bucket) instead of collapsing to a star on the bucket's
    min id — which is almost always a master, so star-only would silently
    admit a batch doc that duplicates a non-hub corpus doc."""
    ids = F.col("__ids")
    # the inner (greater/batch) side is prefiltered ONCE per bucket into its
    # own column — filtering inside the per-a lambda would rescan all K ids
    # for each of K outer values (K² predicate evals on boilerplate buckets)
    inner = (
        ids
        if min_id_b is None
        else F.filter(ids, lambda x: x >= F.lit(min_id_b))
    )
    grouped = grouped.filter(F.size(ids) > 1).withColumn("__inner", inner)
    inner_ids = F.col("__inner")
    # The cap conditions only the OUTER iteration source: all-pairs iterates
    # every id, star iterates just [min(ids)] — since min pairs with every
    # b > min, that IS the hub-and-spoke set. One expression tree (an earlier
    # two-branch when(all_pairs).otherwise(star) duplicated the whole nested
    # lambda tree and cost ~5 s of codegen compilation alone).
    capped_on = ids if min_id_b is None else inner_ids
    outer = (
        ids
        if bucket_cap is None
        else F.when(F.size(capped_on) <= F.lit(bucket_cap), ids).otherwise(
            F.array(F.array_min(ids))
        )
    )
    pair_structs = F.flatten(
        F.transform(
            outer,
            lambda a: F.transform(
                F.filter(inner_ids, lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Bucket-occupancy profile of the LSH banding: one row per occupancy
    level with bucket count and the quadratic pair mass it would expand to.
    Run this (cheap: ends at a count aggregation) before a large dedup to
    pick ``bucket_cap`` — any occupancy whose pairs-share dominates the total
    is boilerplate to cap or prefilter."""
    banded = _lsh_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    occ = banded.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("occupancy"))
    return (
        occ.groupBy("occupancy")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .withColumn(
            "allpairs_candidates",
            (F.col("occupancy") * (F.col("occupancy") - 1) / 2 * F.col("n_buckets")).cast("long"),
        )
        .orderBy(F.desc("occupancy"))
    )


def lsh_plan(
    threshold: float,
    num_hashes: int = 32,
    miss_budget: float = 1e-4,
    margin: float = 0.1,
    fp_budget: float | None = None,
) -> dict:
    """Choose the (bands, rows) banding for a MinHash-LSH run at a target
    Jaccard ``threshold`` — the standard S-curve analysis (Leskovec/
    Rajaraman/Ullman, Mining of Massive Datasets §3.4, public math): a pair
    at similarity J collides in at least one band with probability
    1 − (1 − J^r)^b, so the planner scans every factorization b·r =
    num_hashes and keeps those whose MISS probability at the threshold,
    (1 − t^r)^b, is within ``miss_budget``; among those it picks the one
    with the LOWEST false-candidate rate (collision probability at the
    sub-threshold margin point t − ``margin``) — recall is a hard
    constraint, verify cost is what's minimized (every false candidate
    pays an exact-Jaccard verification in the bucket join).

    Driver-side pure arithmetic over the ≤ d(num_hashes) factorizations —
    call it once when configuring a dedup, pass the result to
    minhash_lsh_dedup(bands=...). Returns {bands, rows, miss_at_threshold,
    fp_at_margin, candidates} with `candidates` the full scanned table for
    audit. Recall alone is ALWAYS satisfiable by rows=1 at high thresholds
    (every hash its own band — but then nearly everything collides and the
    verify stage drowns), so pass ``fp_budget`` to also bound the margin
    collision rate; the planner raises when no split meets BOTH — the
    'raise num_hashes and/or widen margin' signal. Honesty note the raise
    encodes: a sharp cutoff is exponentially expensive — the S-curve's
    transition width shrinks like 1/rows, so holding miss ≤ 1e-4 at t AND
    fp ≤ 0.5 at t−margin needs rows ≥ ln(13.3)/ln(t/(t−margin)) and
    bands ≥ 9.2/t^rows: at t=0.5 a 0.1 margin costs ~450k hashes (don't),
    a 0.3 margin ~220 (e.g. 74×3 at num_hashes=222).

    This codifies the repo's standing choices: the curation pipelines'
    16 bands × 2 rows at t=0.7 (miss (1−0.49)^16 ≈ 2.1e-5) is exactly what
    the planner returns for (0.7, 32, 1e-4)."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    cands = []
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        miss = (1.0 - threshold**rows) ** bands
        lo = max(threshold - margin, 1e-9)
        fp = 1.0 - (1.0 - lo**rows) ** bands
        cands.append(
            {"bands": bands, "rows": rows, "miss_at_threshold": miss,
             "fp_at_margin": fp}
        )
    ok = [
        c for c in cands
        if c["miss_at_threshold"] <= miss_budget
        and (fp_budget is None or c["fp_at_margin"] <= fp_budget)
    ]
    if not ok:
        best = min(cands, key=lambda c: c["miss_at_threshold"])
        raise ValueError(
            f"no (bands, rows) split of {num_hashes} hashes holds miss <= "
            f"{miss_budget}"
            + (f" and fp <= {fp_budget}" if fp_budget is not None else "")
            + f" at threshold {threshold} (lowest-miss split: "
            f"{best['bands']}x{best['rows']}, miss "
            f"{best['miss_at_threshold']:.2e}, fp {best['fp_at_margin']:.3f})"
            "; raise num_hashes"
        )
    pick = min(ok, key=lambda c: (c["fp_at_margin"], c["rows"]))
    return {**pick, "candidates": cands}


def _resolve_bands(threshold: float, num_hashes: int, bands: int | None) -> int:
    """``bands=None`` → planner-derived banding (r12, closing the r11
    'planner is advisory-only' gap): lsh_plan picks the recall-constrained,
    verify-cost-minimal split for (threshold, num_hashes) at the standard
    1e-4 miss budget — so an entry-point caller who states only intent
    (threshold) gets the derived config instead of folklore. An explicit
    int passes through untouched (the standing 16×2-at-0.7 pipelines are
    the planner's own answer; test-pinned)."""
    if bands is not None:
        return bands
    return lsh_plan(threshold, num_hashes)["bands"]


def jaccard_words(text_a: Column, text_b: Column) -> Column:
    """Jaccard similarity of distinct word sets."""
    wa = F.array_distinct(words(text_a))
    wb = F.array_distinct(words(text_b))
    inter = F.size(F.array_intersect(wa, wb)).cast("double")
    union = F.size(F.array_union(wa, wb)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def jaccard_shingles(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Jaccard similarity of distinct n-gram word-shingle sets — the measure
    MinHash actually approximates. Verifying LSH candidates with THIS (not
    word-set jaccard) keeps the pipeline internally consistent: word-set
    jaccard can be high for texts sharing vocabulary but no phrasing, which
    LSH on shingles will (correctly) never pair. HOF form is interpreted, but
    it only runs on candidate pairs — a vanishing fraction of the corpus."""
    sa = F.array_distinct(word_shingles(text_a, n))
    sb = F.array_distinct(word_shingles(text_b, n))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int | None = 8,
    shingle_n: int = 3,
    bucket_cap: int = 1000,
    shingle_mode: str = "word",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify →
    survivors (docs that are not a higher-id duplicate of any kept doc).

    ``bands=None`` derives the banding from (threshold, num_hashes) via
    lsh_plan — the S-curve planner picks the recall-constrained,
    verify-cost-minimal split (r12).

    Candidates are verified with the n-gram shingle Jaccard that MinHash
    approximates — the internally-consistent choice.
    ``shingle_mode='char'`` switches the whole pipeline (signatures AND
    verification) to character n-grams — the tokenizer-free path for
    CJK/mixed-script corpora (pair with a larger shingle_n, e.g. 5).

    The duplicate-id frame (and the shared shingle-set frame) is
    localCheckpointed BEFORE building the final anti-join. Without it,
    Catalyst pushes the anti-join through a Union input and re-plans the
    entire LSH pipeline once per Union branch — DataFrame reuse is lineage
    reuse, not computation reuse, so the corpus would be re-tokenized per
    consumer (round-2 plan audit measured the tokenize subtree 6×).
    Checkpointing swaps the subtree for one cached RDD; the cost is that
    calling this function triggers the candidate/verify jobs immediately
    rather than at first action.

    Note: transitively-linked clusters are collapsed greedily by min-id (a doc
    is dropped if it pairs above threshold with ANY lower id) — the standard
    single-pass approximation of connected components; use
    ``dedup_by_components`` for the exact closure."""
    bands = _resolve_bands(threshold, num_hashes, bands)
    verified = minhash_lsh_verified_pairs(
        df,
        text_col,
        id_col,
        threshold,
        num_hashes,
        bands,
        shingle_n,
        bucket_cap,
        shingle_mode=shingle_mode,
    )
    # the anti-join's other side below may be a many-branch Union; a
    # checkpointed dupes frame is referenced per branch at zero replay
    # cost, and AQE re-sizes it at runtime for the broadcast decision
    dupes = verified.select(F.col("id_b").alias(id_col)).distinct()
    dupes = stage(dupes, "lsh_dupes")
    return df.join(dupes, id_col, "left_anti")


def minhash_lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int | None = 8,
    shingle_n: int = 3,
    bucket_cap: int = 1000,
    shingle_mode: str = "word",
) -> DataFrame:
    """Exact-Jaccard-verified near-dup pairs (id_a < id_b) with ONE tokenize
    pass: signatures and verification both derive from the same
    distinct-shingle-set frame. ``bands=None`` → lsh_plan-derived banding
    (see minhash_lsh_dedup).

    ``shingle_mode='char'`` shingles on character n-grams instead of word
    n-grams (char_shingle_sets) — the tokenizer-free path for CJK and
    mixed-script corpora where whitespace word boundaries don't exist;
    verification then checks char-shingle Jaccard, the measure the char
    MinHash approximates.

    The single pass is PHYSICAL: the shingle-set frame is localCheckpointed
    (executor block store, memory-then-disk), so the signature branch and
    both verify sides scan one cached RDD. Sharing the frame by lineage
    alone does NOT do this — the round-2 plan audit showed the
    scan→explode→window→collect_set subtree replanned 6× with no
    ReusedExchange, because each consumer re-derives the lineage through
    different downstream operators.

    Feed the result to the greedy min-id drop (minhash_lsh_dedup) or to
    dedup_by_components for the exact closure."""
    bands = _resolve_bands(threshold, num_hashes, bands)
    if shingle_mode == "char":
        sets = char_shingle_sets(df, text_col, id_col, shingle_n)
    else:
        sets = shingle_sets(df, text_col, id_col, shingle_n)
    sets, banded = _staged_signatures(sets, id_col, num_hashes, bands)
    cands = _expand_buckets(banded, id_col, bucket_cap)
    return verify_pairs_jaccard(
        df, cands, text_col, id_col, threshold, shingle_n=shingle_n, sets=sets
    )


def _staged_signatures(
    sets: DataFrame, id_col: str, num_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """Stage a shingle-set frame and its banded signature rows: LAZY sets,
    EAGER banded (r14). An eager sets barrier was one more sequential
    driver-blocking job per dedup call (a construct-vs-save split measured
    the barriers at ~60% of q_incremental_dedup_grouped's per-iteration
    wall, with the noop save at 0.3 s). Lazy marking persists and truncates
    the same lineage, and banded's eager job materializes sets inside
    itself — sets' first consumer is banded's narrow derive, so the cache
    populates race-free before the verify branches (which read sets through
    the SAME truncated-lineage blocks) ever touch it. An all-lazy variant
    was measured SLOWER on the incremental twin: within one job the
    verify-side stages raced the banded stage on the uncached sets
    partitions and recomputed the tokenize concurrently. This shape keeps
    one eager barrier and zero recompute. The lazy sets barrier is still
    not job-free: under AQE, a lazy checkpoint plans its RDD through
    AdaptiveSparkPlanExec, which runs the shuffle stage below the sets at
    call time. Building q_minhash_lsh_dedup at sf0.001 runs, in
    order, one ``q_minhash_lsh_dedup:shingle_sets`` job, then the two
    ``lsh_banded`` jobs."""
    sets = stage(sets, "shingle_sets", eager=False)
    banded = stage(_banded_from_sets(sets, id_col, num_hashes, bands), "lsh_banded")
    return sets, banded


def group_banded_store(banded: DataFrame, id_col: str) -> DataFrame:
    """Inverted-index form of a banded signature store: one row per
    (band_idx, band_hash) bucket holding the member-id array — the store
    form ``incremental_lsh_dedup`` reads, and the shape a production store
    should PERSIST (maintained by regrouping store ++ new-survivor rows at
    append time, once per batch).

    Why: a row-form store has to be unioned with the batch and
    re-aggregated into buckets on EVERY run — the stage decomposition at
    the 1024x scaling octave measured that expansion at 76.2 s of a 166 s
    cell (46%), almost all of it shuffling and collect_list-ing the same
    master rows batch after batch. Grouping once at store-write time moves
    that cost out of the daily run: the batch run then shuffles only
    batch-sized frames and JOINS the grouped store by bucket key (on a real
    cluster, a store table bucketed by (band_idx, band_hash) makes that
    join shuffle-free on the store side)."""
    return banded.groupBy("band_idx", "band_hash").agg(
        F.collect_list(F.col(id_col)).alias("__ids")
    )


def incremental_lsh_dedup(
    batch: DataFrame,
    master_docs: DataFrame | None,
    master_store: DataFrame | None,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int | None = 8,
    shingle_n: int = 3,
    bucket_cap: int = 1000,
    batch_min_id: int | None = None,
    keep_dropped_signatures: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new batch against BOTH itself and an already-deduped corpus
    without re-mining the corpus — the shape a 100 TB pipeline actually runs
    daily. The corpus contributes only its persisted signature store; its
    text is touched ONLY for the handful of docs that share a bucket with a
    batch doc, via a semi-join.

    ``master_store`` is the corpus's banded signatures in
    ``group_banded_store``'s inverted-index form (band_idx, band_hash,
    __ids), or None for the first batch. The batch groups its own
    (batch-sized) buckets and LEFT-JOINS the store by (band_idx,
    band_hash); per-bucket ids are store-members ++ batch-members. Store-only
    buckets never enter the join (they cannot emit pairs: every pair needs a
    batch-side greater id). Without a store the batch is the whole corpus,
    and its candidates are minhash_lsh_candidates' own.

    Returns ``(survivors, survivor_banded)``: the batch rows that are not
    near-dups of the corpus or of a lower-id batch doc, plus their banded
    signature rows (id, band_idx, band_hash) to append to the store for the
    next batch.

    Contract: batch ids are strictly greater than every master id (natural
    for monotonically-assigned doc ids). The greater-side cutoff then prunes
    master-vs-master pairs inside the bucket expansion — a bucket holding
    only corpus docs emits zero candidates, so per-batch cost scales with
    the batch, not the corpus.

    ``batch_min_id``: the explicit argument (a production caller keeps it
    as a watermark, e.g. ``sources.watermark.RunLog``, so no job runs at
    plan time); else a driver ``min()`` over the batch (one extra tiny
    job).

    ``keep_dropped_signatures=False`` (default) compares future batches
    against the CANONICAL corpus only: a batch doc that duplicates a doc the
    corpus previously dropped — but not that doc's kept representative — is
    admitted (standard dedup-against-index behavior). ``True`` returns ALL
    batch banded rows (survivors AND dropped) for the store, so later
    batches also match against dropped docs; the caller must then pass the
    full doc history (including dropped docs' text) as ``master_docs`` so
    bucket hits on dropped ids can be verified.

    Determinism: signatures are seeded xxhash64 (no RNG), so signature rows
    computed in an earlier run collide correctly with rows computed today —
    nothing needs re-hashing as the store grows.

    The BATCH-scale intermediates (shingle sets, banded rows, dupe ids) are
    localCheckpointed — each has multiple downstream consumers, and
    lineage-only sharing re-plans the whole batch tokenize per consumer (a
    plan audit of the two-batch query showed the documents scan replicated
    62×). All three frames are batch-sized by the operator's own premise,
    and a production pipeline writes the banded frame to the store table
    anyway. ``bands=None`` → lsh_plan-derived banding (see
    minhash_lsh_dedup); an incremental store's banding must of course stay
    FIXED across runs — derive once, persist the config."""
    if master_store is not None and "__ids" not in master_store.columns:
        raise ValueError(
            "master_store must be in group_banded_store's (band_idx, "
            "band_hash, __ids) form; group a row-form signature table with "
            "group_banded_store(store, id_col) first"
        )
    bands = _resolve_bands(threshold, num_hashes, bands)
    if batch_min_id is None:
        row = batch.agg(F.min(F.col(id_col))).first()
        batch_min_id = row[0] if row and row[0] is not None else 0
    sets_b, banded_b = _staged_signatures(
        shingle_sets(batch, text_col, id_col, shingle_n), id_col, num_hashes, bands
    )
    if master_store is None:
        # every id is a batch id: the cutoff would keep all of them, so the
        # width-pinned batch expansion applies as it stands
        cands = _expand_buckets(banded_b, id_col, bucket_cap)
    else:
        gb = banded_b.groupBy("band_idx", "band_hash").agg(
            F.collect_list(F.col(id_col)).alias("__bids")
        )
        merged = gb.join(
            master_store.withColumnRenamed("__ids", "__mids"),
            ["band_idx", "band_hash"],
            "left",
        ).select(
            "band_idx",
            "band_hash",
            F.when(F.col("__mids").isNull(), F.col("__bids"))
            .otherwise(F.concat(F.col("__mids"), F.col("__bids")))
            .alias("__ids"),
        )
        cands = _expand_grouped_buckets(merged, bucket_cap, min_id_b=batch_min_id)
    # tokenize only the corpus docs that actually share a bucket with the
    # batch (candidate id_a below the cutoff) — a semi-join-sized read
    sets = sets_b
    if master_docs is not None:
        hit_ids = (
            cands.filter(F.col("id_a") < F.lit(batch_min_id))
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
        hit_docs = master_docs.join(hit_ids, id_col, "left_semi")
        sets = sets_b.unionByName(shingle_sets(hit_docs, text_col, id_col, shingle_n))
    # explicit verify width from the checkpoint-backed batch sets (a
    # trivial-plan probe): letting verify probe the batch ∪ hit-docs union
    # would re-plan the hit-docs shingle lineage per call (~0.2 s driver
    # latency per batch, and unstable across runs so the memo never hits)
    vw = max(
        batch.sparkSession.sparkContext.defaultParallelism,
        plan_partitions(sets_b) or 0,
    )
    verified = verify_pairs_jaccard(
        batch, cands, text_col, id_col, threshold, shingle_n=shingle_n,
        sets=sets, width=vw,
    )
    dupes = verified.select(F.col("id_b").alias(id_col)).distinct()
    dupes = stage(dupes, "lsh_dupes")
    survivors = batch.join(dupes, id_col, "left_anti")
    if keep_dropped_signatures:
        return survivors, banded_b
    survivor_banded = banded_b.join(dupes, id_col, "left_anti")
    return survivors, survivor_banded


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 3,
    sets: DataFrame | None = None,
    width: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs, set-join formulation:
    each doc's DISTINCT n-gram shingle set is built ONCE (codegen explode
    pipeline, elements stored as xxhash64 longs) and joined to the pair
    list; the per-pair work is one native array_intersect over fixed-width
    longs, with |union| recovered arithmetically as |a|+|b|-|intersect|.

    Same values as computing jaccard_shingles per pair from
    raw text, but ~5× faster on the candidate stream: the per-pair HOF form
    re-tokenizes both texts with interpreted lambda expressions for every
    pair, while here tokenization cost is per-DOC and the per-pair step
    stays in codegen. Returns (id_a, id_b) pairs meeting the threshold.

    ``sets`` accepts a precomputed (id, __set) frame (see shingle_sets) so a
    pipeline that already built the sets for signatures doesn't tokenize the
    corpus a second time.

    No empty-set guard is needed on the division: only docs with ≥1 token
    enter LSH buckets, so union ≥ 1 for every candidate pair."""
    if sets is None:
        sets = shingle_sets(df, text_col, id_col, shingle_n)
    # |union| = |a| + |b| - |intersect|: one hash-set probe per pair instead
    # of two (array_union built and measured at ~the same cost as the
    # intersect it duplicates)
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size("__sa") + F.size("__sb") - F.size(F.array_intersect("__sa", "__sb"))
    # Pair-side width PINNED (r14): the pair list and the set frame are both
    # tiny in BYTES (8-byte ids; arrays of longs) but the per-pair
    # array_intersect is the whole verify cost, and AQE's byte-based
    # coalescing ran the probe side on ONE task (measured 1.9 s of the
    # q_char_lsh_dedup iteration; 0.77 s pinned). Only one side is pinned:
    # the pairs frame, by repartition(width, "id_a") before the first
    # join. That replaces the id_a join's own AQE-sized exchange on the
    # pairs side (same-key pre-partitioning satisfies the join's
    # distribution requirement), so no exchange is added — only its width
    # is set compute-proportionally. Nothing pins the rest: both sets
    # sides and the second (id_b) join keep the planner's AQE-sized
    # exchanges, so the one-task collapse can still recur on the id_b
    # join (not measured). Join STRATEGY stays the planner's and follows
    # size: on a 200-doc input it broadcast the pairs side of the id_a
    # join and the sets side of the id_b join. A forced broadcast(pairs)
    # variant measured slower AND caps at the 8 GB broadcast limit, so the
    # hint is deliberately absent. As in _expand_buckets, defaultParallelism
    # is read at plan time and can undershoot under dynamic allocation.
    spark_dp = pairs.sparkSession.sparkContext.defaultParallelism
    # width from SETS, not pairs: sets is (in every pipeline caller) a
    # checkpoint-backed frame whose partition probe is a trivial-plan
    # lookup, while the pairs lineage re-plans the whole expansion per
    # probe (~0.2 s of driver latency per call, paid per construction);
    # sets' count is also the corpus-proportional scale signal. Callers
    # whose sets frame is NOT checkpoint-backed (incremental's
    # batch ∪ hit-docs union) pass ``width`` explicitly to skip the probe.
    if width is None:
        width = max(spark_dp, plan_partitions(sets) or 0)
    return (
        pairs.repartition(width, "id_a")
        .join(
            sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa")), "id_a"
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb")), "id_b"
        )
        .withColumn("jaccard", inter / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float,
    salts: int | None = None,
) -> DataFrame:
    """All-pairs n-gram (word-set) Jaccard within blocking groups — the
    brute-force verifier (and the oracle-checkable flavor): pairs (id_a <
    id_b) sharing block_cols with Jaccard ≥ threshold.

    Scale: blocking bounds the quadratic term; use LSH (above) when no natural
    blocking key exists.

    r13 shape (was 789 s at sf0.1, now ~2 s; same pairs, same values):
    - Tokenize ONCE PER DOCUMENT, not once per pair: the old form carried the
      raw texts through the join and ran jaccard_words — two regex splits +
      two array_distinct + intersect + union — per CANDIDATE PAIR (3.2M pairs
      at sf0.1 ≈ 250 µs each). Now each doc is reduced to its distinct word
      set (and its size) before the join, and per pair only one
      array_intersect remains; |union| = |a| + |b| − |intersect| by
      inclusion–exclusion over distinct sets, so the jaccard double (and its
      4-dp round) is bit-identical to the old array_union form, including
      the union=0 → 1.0 guard.
    - SALT the block key (guide §2.5): blocking keys are low-cardinality by
      design (5 langs at sf0.1), so the quadratic compare stage would run on
      ≤ n_blocks tasks no matter how wide the cluster. The a-side gets a
      deterministic salt pmod(xxhash64(id), S) — never rand(): retried map
      tasks must re-derive the same salt (SPARK-38388) — and the b-side is
      exploded S ways, so every (block, salt) cell holds 1/S of the block's
      pairs and the planner is free to broadcast the small UNexploded a-side
      (it does at sf0.1: BroadcastHashJoin, zero shuffle of the exploded
      side) or fall back to a salted sort-merge join at cluster scale. S
      defaults to min(defaultParallelism, 64) — scale-adaptive, capped so
      the b-side replication factor stays bounded; callers with wider
      clusters and few blocks can raise `salts` explicitly."""
    spark = df.sparkSession
    n_salts = salts or max(1, min(spark.sparkContext.defaultParallelism, 64))
    base = fan_out(
        df.select(F.col(id_col), F.col(text_col), *[F.col(c) for c in block_cols])
    )
    ws = F.array_distinct(words(F.col(text_col)))
    sets = base.select(
        F.col(id_col), ws.alias("__ws"), F.size(ws).alias("__n"),
        *[F.col(c) for c in block_cols],
    )
    a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__ws").alias("__wa"),
        F.col("__n").alias("__na"),
        *[F.col(c).alias(f"__blk_{c}") for c in block_cols],
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("__salt_a"),
    )
    b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("__ws").alias("__wb"),
        F.col("__n").alias("__nb"),
        *[F.col(c).alias(f"__blk2_{c}") for c in block_cols],
    ).withColumn("__salt_b", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    cond = (F.col("id_a") < F.col("id_b")) & (
        F.col("__salt_a") == F.col("__salt_b").cast("long")
    )
    for c in block_cols:
        cond = cond & (F.col(f"__blk_{c}") == F.col(f"__blk2_{c}"))
    inter = F.size(F.array_intersect(F.col("__wa"), F.col("__wb")))
    union = F.col("__na") + F.col("__nb") - inter
    jac = F.round(
        F.when(union == 0, F.lit(1.0)).otherwise(
            inter.cast("double") / union.cast("double")
        ),
        4,
    )
    return (
        a.join(b, cond)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_udf(num_bits: int = 64):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash(batch: pd.Series) -> pd.Series:
        # Bounded chunks: the vectorized kernel allocates O(total_tokens x 64)
        # int32 temporaries (bit matrix, vote matrix); on a 10k-doc Arrow
        # batch that is ~250MB of transient numpy per worker, and 32
        # concurrent workers thrashed memory bandwidth for a measured 10x
        # wall-time cliff (51s vs 5s at 320k docs) once input partitions got
        # big. 2k docs/chunk keeps the footprint ~50MB/worker with no
        # measurable per-chunk overhead.
        chunk = 2048
        if len(batch) > chunk:
            return pd.concat(
                [
                    _simhash_block(batch.iloc[i : i + chunk])
                    for i in range(0, len(batch), chunk)
                ],
                ignore_index=True,
            )
        return _simhash_block(batch)

    def _simhash_block(batch: pd.Series) -> pd.Series:
        import numpy as np

        # Whole-batch vectorization: every token of every doc in the chunk
        # is hashed in ONE padded byte-matrix FNV-1a sweep (loop over
        # byte POSITIONS, ~max-token-length iterations, not over tokens),
        # and per-doc bit votes come from a single np.add.reduceat over the
        # token-segment boundaries. Bit-identical to the per-row reference
        # loop it replaced (same FNV-1a, same vote rule).
        toks_per_doc = [str(t or "").lower().split() for t in batch]
        doc_lens = np.fromiter((len(t) for t in toks_per_doc), np.int64, len(toks_per_doc))
        result = np.zeros(len(batch), np.int64)
        n_tok = int(doc_lens.sum())
        if n_tok == 0:
            return pd.Series(result)
        enc = [t.encode("utf-8") for toks in toks_per_doc for t in toks]
        tok_lens = np.fromiter((len(e) for e in enc), np.int64, n_tok)
        flat = np.frombuffer(b"".join(enc), np.uint8)
        # scatter bytes into a (n_tok, maxlen) matrix via computed positions
        tok_idx = np.repeat(np.arange(n_tok), tok_lens)
        tok_starts = np.concatenate(([0], np.cumsum(tok_lens)[:-1]))
        pos = np.arange(tok_lens.sum()) - np.repeat(tok_starts, tok_lens)
        maxlen = int(tok_lens.max())
        mat = np.zeros((n_tok, maxlen), np.uint8)
        mask = np.zeros((n_tok, maxlen), bool)
        mat[tok_idx, pos] = flat
        mask[tok_idx, pos] = True
        h = np.full(n_tok, 0xCBF29CE484222325, np.uint64)
        prime = np.uint64(0x100000001B3)
        for j in range(maxlen):
            m = mask[:, j]
            h[m] = (h[m] ^ mat[:, j][m].astype(np.uint64)) * prime
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        nz = doc_lens > 0
        doc_starts = np.concatenate(([0], np.cumsum(doc_lens)[:-1]))
        votes = np.add.reduceat(2 * bits - 1, doc_starts[nz], axis=0)
        sigs = ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(axis=1)
        result[nz] = sigs.astype(np.int64)
        return pd.Series(result)

    return simhash


def simhash_column(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document (Arrow-batched; one pass).

    Fanned out before the UDF (session.fan_out, a no-op on a well-split
    input): the vectorized FNV/vote kernel dominates the scan by orders of
    magnitude, and a single-split input would run every batch in ONE task
    (r13: the whole sf0.1 corpus signature pass ran single-task)."""
    return fan_out(df).withColumn(out_col, _simhash_udf()(F.col(text_col)))


def _auto_clean_blocks(n: int, max_hamming: int) -> int:
    """OPT-IN count-based depth rule for Manku combination blocking: one
    extra clean block per 4x corpus growth past ~2M signatures, clamped to
    what packs into a 63-bit combo key. Each +1 block multiplies the combo
    keyspace by ~2^5-2^9 (one octave of n² ACCIDENTAL-collision growth)
    while blocking rows grow only C(t, clean)-fold.

    NOT the default, by measurement: the r10 1024x octave showed deepening
    LOSING 3x at 5.12M text signatures (45.5 s → 133 s) because the heavy
    candidate stream there was TRUE pairs (a fixture artifact), which no
    key widening removes — the extra blocking rows were pure cost. This
    rule is correct only in the uniform-model regime where accidental
    collisions (≈ combos·n²/2^keybits) dominate true pairs; output is
    invariant either way (pigeonhole recall + exact bit_count verify), so
    measure the candidate stream before opting in."""
    import math

    ecb = 3
    if n > 2_000_000:
        ecb = 3 + math.ceil(math.log(n / 2_000_000, 4))
    # respect the 63-bit combo-key packing constraint
    while ecb > 3:
        t = max_hamming + ecb
        slot = 64 // t + (1 if 64 % t else 0)
        if ecb * slot <= 63:
            break
        ecb -= 1
    return min(ecb, 6)


def _clean_block_widths(max_hamming: int, extra_clean_blocks: int) -> list[int]:
    """Bit widths of the ``max_hamming + extra_clean_blocks`` signature
    blocks; raises ValueError for a config whose combo key cannot pack.

    Fixed-width slot packing is injective only while every slot fits in the
    63 value bits of a signed long: n_pick * slot can exceed that (e.g.
    max_hamming=1, extra_clean_blocks=11 → slot=6, 11*6=66 — silent long
    wrap aliasing distinct combos), and extra_clean_blocks >= 22 would even
    build F.lit(1 << 63) which overflows LongType at plan time. Every
    useful operating point (defaults, and the measured 4-clean alternative)
    packs well inside 63 bits."""
    if extra_clean_blocks < 1:
        raise ValueError("need at least one guaranteed-clean block")
    t_blocks = max_hamming + extra_clean_blocks
    widths = [64 // t_blocks + (1 if i < 64 % t_blocks else 0) for i in range(t_blocks)]
    n_pick, slot = extra_clean_blocks, max(widths)
    if n_pick * slot > 63:
        raise ValueError(
            f"combo key needs n_pick*slot = {n_pick}*{slot} = {n_pick * slot} bits"
            " > 63 available in a signed long: lower extra_clean_blocks (or"
            " raise max_hamming) so extra_clean_blocks *"
            " ceil(64/(max_hamming+extra_clean_blocks)) <= 63"
        )
    return widths


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    max_hamming: int = 3,
    extra_clean_blocks: int | None = 3,
    corpus_count: int | None = None,
) -> DataFrame:
    """Pairs within hamming distance ≤ max_hamming, combination-blocked
    (Manku et al., WWW'07 §3): the 64-bit signature splits into
    ``max_hamming + extra_clean_blocks`` blocks; a pair differing in
    ≤ max_hamming bits dirties at most max_hamming blocks, so at least
    ``extra_clean_blocks`` are untouched on BOTH sides — and every
    clean-sized COMBINATION is a join key, so the
    clean triple is guaranteed to collide (pigeonhole, exact recall). The
    equi-join key is therefore ~3·(64/t) ≈ 32 bits wide, putting random
    collisions at n²/2³³ per combo instead of the n²/2¹⁷ a single-chunk
    scheme pays: the earlier 4×16-bit blocking went quadratic at 320k docs
    (SCALING.md first 64x run: 16x→64x ratio 10.6, ~3M accidental
    candidates) while C(6,3)=20 combos cost only 5× the blocking rows and
    keep the candidate stream near-linear. Exactness is unaffected — every
    candidate is verified with the true bit_count(xor) distance.

    ``extra_clean_blocks`` sizes the combo keyspace against RANDOM
    collisions, which grow quadratically in corpus size: 3 clean blocks
    give ~32-bit keys, 4 give ~40-bit keys with C(7,4)=35 combos — 75%
    more blocking rows for ~16x fewer random collisions per combo.
    MEASURED at 1.28M docs the 3-block default still wins (17s vs 30s):
    its ~3.8M accidental candidates die in a cheap native bit_count
    filter, while the 4th block pays real shuffle volume on every row —
    and REMEASURED at 5.12M text signatures the default still wins
    (45.5 s vs 133 s): the r10 burn-down first misread a media-fixture
    pair explosion as accidental-candidate growth, auto-deepened on
    corpus size, and the same octave that motivated the change refuted it
    (the candidate stream there was TRUE pairs, which no key widening
    removes, so the 4th block's ~75% extra blocking rows were pure cost).
    Keep 3 unless ACCIDENTAL collisions dominate — the uniform-model
    regime (≈ combos·N²/2^keybits rivaling ~10·N) at N in the tens of
    millions of genuinely high-entropy signatures; opt in explicitly via
    ``extra_clean_blocks`` or ``extra_clean_blocks=None`` + corpus size
    (``_auto_clean_blocks``'s count-based rule, with that caveat). Exact
    recall is unaffected at ANY clean count ≥ 1 (the pigeonhole guarantee
    + true bit_count verify make the OUTPUT invariant to this knob — it
    is purely a cost decision, so measure before deepening).

    The (id, signature) projection is eagerly localCheckpointed first. The
    signature column is usually the Arrow pandas UDF from
    ``simhash_column``, and WITHOUT materialization the self-join
    re-evaluates that UDF on both aliases AFTER the 20-way key explode —
    ~40 signature computations per doc instead of 1 (measured 6×
    end-to-end at 320k docs). An explicit ``extra_clean_blocks`` is
    validated before that checkpoint job runs."""
    from itertools import combinations

    if max_hamming < 1:
        raise ValueError("max_hamming=0 is exact equality — groupBy the signature")
    if extra_clean_blocks is not None:
        _clean_block_widths(max_hamming, extra_clean_blocks)
    df = stage(df.select(id_col, sim_col), "simhash_sigs")
    if extra_clean_blocks is None:
        n = df.count() if corpus_count is None else int(corpus_count)
        extra_clean_blocks = _auto_clean_blocks(n, max_hamming)
    widths = _clean_block_widths(max_hamming, extra_clean_blocks)
    t_blocks = len(widths)
    offsets = [sum(widths[:i]) for i in range(t_blocks)]

    def block(i):
        # arithmetic shift + mask extracts bits [offset, offset+width) of
        # the signed 64-bit signature exactly (mask kills sign extension)
        return F.shiftright(F.col(sim_col), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    # pack each clean-block combo into one long via fixed-width bit slots
    # (_clean_block_widths validated the 63-bit fit, so the packing is
    # injective per combo_idx; chunk_idx disambiguates across combos)
    n_pick = extra_clean_blocks
    slot = max(widths)
    keys = F.array(
        *[
            sum(
                (block(c) * F.lit(1 << (slot * i)) for i, c in enumerate(combo)),
                F.lit(0),
            )
            for combo in combinations(range(t_blocks), n_pick)
        ]
    )
    blocked = df.select(id_col, sim_col).select(
        id_col, sim_col, F.posexplode(keys).alias("chunk_idx", "chunk")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Connected components (exact transitive dedup clusters)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    strict: bool = True,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Exact connected components over a near-dup pair graph: (id, component)
    where component = the minimum id reachable from the node.

    minhash_lsh_dedup's greedy min-id drop is a single-pass approximation; CC
    is the exact closure (a chain a~b~c collapses to one survivor even when
    a and c never paired directly). Each round does min-label propagation
    (every node takes min(own label, neighbors' labels)); from the THIRD
    round — i.e. only for graphs still moving after the shallow common case
    is done — each round adds a POINTER-JUMPING shortcut (component ←
    label(component), the path-compression step of classic PRAM CC):
    propagation alone needs
    diameter rounds — a 100-link paraphrase chain (observed: the sf0.1
    embedding graph at threshold 0.3 exceeds 20) would need 100 — while the
    shortcut squares the covered distance per round, so ``max_iterations``
    rounds reach components of diameter ~2^max_iterations. Lineage is cut
    per round with localCheckpoint; stops at fixpoint. Input columns:
    id_a, id_b.

    Non-convergence is a CORRECTNESS failure for consumers like
    cluster_safe_split (two members of one long chain keying on different
    representatives would straddle a train/test boundary), so exhausting
    ``max_iterations`` with labels still moving raises by default
    (``strict=True``); ``strict=False`` downgrades to a loud warning and
    returns the partial labels for exploratory use. With the shortcut step
    the default cap covers ~10^6-diameter chains, so a strict raise now
    genuinely means a pathological graph, not a long one."""
    # Materialize the PAIR LIST once before anything fans out from it: the
    # src↔dst union (and, before r13, the driver-gate count) would otherwise
    # re-derive the whole upstream pair-generation lineage — candidate join +
    # exact verify, the expensive part of every LSH/blocked dedup — once per
    # consumer branch (lineage reuse is not computation reuse; measured
    # q_embedding_lsh_cc_dedup paying the verify twice inside one union
    # stage). Pair-graph-sized, never corpus-sized.
    cp = stage(pairs.select("id_a", "id_b"), "cc_pairs")
    # r13 size-gated dispatch (same shape as the kmeans router): a near-dup
    # pair graph is PAIR-sized, not corpus-sized, and below
    # ``driver_max_edges`` (~32 MB of id pairs at the default) an in-core
    # union-find with path compression computes the exact same min-id
    # fixpoint in milliseconds, replacing ~3 Spark jobs PER ROUND × up to
    # log₂(diameter) rounds (q_embedding_cc_dedup measured 378 jobs across
    # its profiled runs, wall dominated by ~60 ms/job fixed scheduling cost,
    # not compute). Above the gate — the 100 TB regime, where a pair graph
    # can carry billions of edges — the distributed pointer-jumping loop
    # below runs unchanged. Both paths return min-reachable-id labels for
    # exactly the nodes appearing in any pair; equality is pinned by
    # tests/test_dataops.py (CC paths) and every CC-consuming oracle query.
    n_pairs = cp.count()
    if n_pairs <= driver_max_edges:
        spark = pairs.sparkSession
        id_type = cp.schema["id_a"].dataType
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for src, dst in cp.collect():
            if src not in parent:
                parent[src] = src
            if dst not in parent:
                parent[dst] = dst
            ra, rb = find(src), find(dst)
            if ra != rb:
                # min-id root wins — the distributed loop's F.least fixpoint
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(n, find(n)) for n in parent]
        from pyspark.sql import types as _T

        schema = _T.StructType(
            [
                _T.StructField("id", id_type),
                _T.StructField("component", id_type),
            ]
        )
        return spark.createDataFrame(rows, schema)
    edges = cp.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(cp.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = stage(edges.distinct(), "cc_edges")
    labels = stage(
        edges.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id")),
        "cc_labels",
    )
    converged = False
    for it in range(max_iterations):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_min"))
        )
        comp = F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component")))
        prop = stage(
            labels.join(msgs, labels.id == msgs.dst, "left").select(
                "id",
                comp.alias("component"),
                # convergence flag computed IN the propagation pass: the
                # old round ran a second join+count job against the prior
                # labels just to ask "did anything move" — at toy scale
                # that doubled the per-round fixed cost (measured ~10s of
                # pure scheduling on a 3.7k-edge graph)
                (comp != F.col("component")).alias("__chg"),
            ),
            "cc_round",
        )
        # pointer-jumping shortcut: component ← label(component). Squares
        # the distance covered per round, turning diameter-bound
        # convergence into log-diameter — the step that lets a 20-round cap
        # absorb the >20-link chains the sf0.1 embedding graph produces.
        # ADAPTIVE: the first two rounds skip it — near-dup clusters are
        # usually diameter ≤ 3, and for them the jump's extra join +
        # checkpoint per round is pure cost (q_cluster_safe_split measured
        # +27% bench-to-bench with the unconditional form); from round 3 a
        # still-moving graph is genuinely deep and the squaring pays for
        # itself. `prop` is checkpointed above so the self-join reads it
        # once; the frame is pair-graph-node-sized, never corpus-sized.
        if it < 2:
            new_labels = prop
        else:
            ptr = prop.select(
                F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
            )
            jumped = F.least(
                F.col("component"), F.coalesce(F.col("__pcomp"), F.col("component"))
            )
            new_labels = stage(
                prop.join(ptr, prop.component == ptr.__pid, "left")
                .select(
                    "id",
                    jumped.alias("__ncomp"),
                    (F.col("__chg") | (jumped != F.col("component"))).alias("__chg"),
                )
                .withColumnRenamed("__ncomp", "component"),
                "cc_jump",
            )
        changed = len(new_labels.filter(F.col("__chg")).take(1))
        new_labels = new_labels.drop("__chg")
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            "iterations. With pointer-jumping each round roughly doubles the "
            "reachable distance, so this means the pair graph has diameter "
            f"> ~2^{max_iterations} — a pathological graph (or adversarial "
            "chain), not a long-but-normal one. Inspect the pair generation "
            "before raising max_iterations; each +1 doubles coverage."
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def dedup_by_components(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep one representative (minimum id) per connected near-dup cluster;
    rows not in any pair survive untouched."""
    comps = connected_components(pairs)
    drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Corpus-level paragraph dedup (C4 §2.2: global span dedup, first occurrence
# wins)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    normalize: bool = True,
) -> DataFrame:
    """Remove REPEATED paragraphs across the whole corpus, keeping each
    paragraph's first occurrence (lowest (doc_id, position)) — the C4 move
    against boilerplate: the same nav/footer/disclaimer paragraph appears on
    millions of pages, and only one copy belongs in a training corpus.

    Output: one row per input doc — ``dedup_text`` (surviving paragraphs
    re-joined in original order; '' if every paragraph was a repeat),
    ``n_paragraphs``, ``n_kept``.

    ``normalize=True`` keys repeats on the whitespace-normalized lowercased
    paragraph; False keys on the exact text.

    Empty/whitespace-only paragraphs are NOT dedup keys: splitting
    'a\\n\\nb' yields an empty segment, and a corpus-wide key on '' would
    delete every blank separator except the globally first, silently
    collapsing paragraph structure in every reassembled doc. Blanks are
    kept unconditionally (they count in n_paragraphs and n_kept), keyed
    per-occurrence so the blank key is also never a shuffle-skew hotspot.

    Scale shape: explode paragraphs once → ROW_NUMBER over a window keyed
    on the paragraph HASH (xxhash64 — 8-byte shuffle key instead of the
    paragraph text; a collision merges two distinct paragraphs with
    P ≈ n²/2⁶⁴) ordered by (doc_id, pos) → re-aggregate per doc. Two
    shuffles total (paragraph-hash, doc-id), both map-side combinable on
    the second leg, nothing quadratic. First-occurrence semantics are
    deterministic because (doc_id, pos) is unique."""
    from pyspark.sql import Window

    raw = F.col("__para")
    key = (
        F.regexp_replace(F.trim(F.lower(raw)), r"\s+", " ") if normalize else raw
    )
    blank_key = F.xxhash64(F.col(id_col), F.col("__pos"), F.lit("__blank__"))
    ex = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para")
    ).withColumn(
        "__key",
        F.when(F.trim(raw) == "", blank_key).otherwise(F.xxhash64(key)),
    )
    w = Window.partitionBy("__key").orderBy(id_col, "__pos")
    flagged = ex.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("__pos"), F.col("__para"))
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)), lambda s: s["__para"]
            ),
            sep,
        ).alias("dedup_text"),
    )
    return agg.select(id_col, "dedup_text", "n_paragraphs", "n_kept")


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    exact_closure: bool = False,
) -> DataFrame:
    """Near-dup dedup via SimHash: signature → blocked hamming pairs →
    greedy min-id drop (every doc that is the greater side of a ≤
    max_hamming pair is removed). The cheap single-signature alternative to
    MinHash-LSH when per-doc cost matters more than Jaccard fidelity —
    SimHash is one 64-bit signature per doc vs k minhashes, at the price of
    a fuzzier similarity notion (weighted token overlap, not shingle
    Jaccard).

    ``exact_closure=True`` runs connected components over the pair graph
    first, so a chain a~b~c collapses to one survivor even when a and c
    never paired directly (same option as dedup_by_components for LSH).

    The pair frame is materialized once (localCheckpoint) before the
    anti-join — same pushed-through-Union replay hazard as
    minhash_lsh_dedup."""
    sigs = simhash_column(df.select(F.col(id_col), F.col(text_col)), text_col)
    pairs = stage(simhash_near_pairs(sigs, id_col, max_hamming=max_hamming), "simhash_pairs")
    if exact_closure:
        comps = connected_components(pairs.select("id_a", "id_b"))
        dupes = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        dupes = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dupes, id_col, "left_anti")


def char_shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """One row per character n-gram: (id, shingle) — the tokenizer-free
    twin of ``word_shingle_rows`` for scripts without whitespace word
    boundaries (CJK, Thai) and mixed corpora, where whitespace
    tokenization collapses a whole document into one 'word' and word-level
    MinHash degenerates to exact matching.

    Normalization matches ``words``: lowercase + trim, runs of whitespace
    collapse to one space (so reflowing never changes the shingle set).
    Documents shorter than n chars yield the whole text as one shingle;
    empty docs yield nothing.

    Plan shape: one transform(sequence, substring) per doc then explode.
    The transform lambda is a CodegenFallback HOF (interpreted), but an A/B
    against the fully-codegen explode(sequence)→substring form measured
    within 6% at sf0.1 — per-shingle cost is dominated by string
    allocation either way, so the simpler single-pipeline form stays.

    The id-hash shuffle happens BEFORE the explode (repartition on id), not
    after: the downstream per-doc set aggregation needs id-clustering either
    way, and moving it ahead of the explode shuffles one text row per doc
    (~300 bytes) instead of ~|text| shingle rows (~16 bytes × hundreds), AND
    lets the shingle/hash compute run at full core parallelism instead of
    the scan's partitioning. The partition count floor is
    defaultParallelism (without capping a wider input — see
    _shingle_partition_count): AQE sizes shuffle partitions by BYTES, and a
    corpus of short texts is tiny on the wire but explodes ~|text|× in compute —
    byte-based coalescing collapsed this stage to ONE partition and
    serialized the whole shingle pipeline (measured 2.3s → 0.4s at sf0.1
    for the set build; the checkpointed sets frame inherits the layout, so
    banding and verification parallelism were capped by it too)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    ln = F.length(norm)
    return (
        df.select(F.col(id_col), norm.alias("__t"), ln.alias("__l"))
        .filter(F.col("__l") > 0)
        .repartition(_shingle_partition_count(df, num_partitions), F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.col("__l") <= n, F.array(F.col("__t"))
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.col("__l") - n + 1),
                        lambda i: F.substring(F.col("__t"), i, F.lit(n)),
                    )
                )
            ).alias("shingle"),
        )
    )


def char_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """(id, __set) of DISTINCT char n-grams — drop-in for ``shingle_sets``
    in the LSH pipeline when the corpus needs tokenizer-free similarity:

        sets = char_shingle_sets(docs, "text", "doc_id")
        banded = _banded_from_sets(sets, "doc_id", 32, 8)

    (MinHash over char shingles approximates char-shingle Jaccard — the
    measure SimHash/LSH literature uses for CJK dedup.) Elements are
    xxhash64(shingle) longs, same contract and rationale as shingle_sets."""
    return (
        char_shingle_rows(df, text_col, id_col, n)
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64(F.col("shingle"))).alias("__set"))
    )


# ---------------------------------------------------------------------------
# Cross-document exact-substring (span) dedup — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"
# (arXiv:2107.06499) §3.1 ExactSubstr, re-expressed as k-token grams
# ---------------------------------------------------------------------------


def duplicate_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-document statistics of text spans duplicated VERBATIM in other
    documents: every k-token gram that also occurs in ≥1 other document
    marks its token interval [pos, pos+k) as duplicated; overlapping
    intervals merge into maximal spans (so a 50-token verbatim copy counts
    as ONE span covering 50 tokens, not 46 overlapping grams).

    This is the document-internal counterpart of span decontamination
    (textstats.decontaminate_span_stats): same positioned-gram machinery,
    but the "contaminating" set is the corpus itself — Lee et al.'s
    ExactSubstr dedup, with the suffix array replaced by the
    k-gram-inverted-index equivalent (a gram is duplicated iff some length-k
    substring repeats; spans below k tokens are invisible, exactly the
    suffix-array threshold semantics).

    Output: (id, n_tokens, dup_gram_count, dup_span_count, dup_token_count)
    for every input row — audit posture; filter on
    ``dup_token_count / n_tokens`` to enforce a policy.

    Scale: one positioned-gram explode (codegen posexplode + lead, the
    word_shingle_rows pattern), one hash aggregate on the 8-byte gram hash
    to find cross-doc grams (map-side combined), a semi-join back, and the
    interval merge as two id-partitioned windows — every shuffle is on
    either the gram hash or the doc id, nothing is all-pairs. Memory is
    bounded by tokens-per-partition, not corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    exploded = df.repartition(
        _shingle_partition_count(df, num_partitions), F.col(id_col)
    ).select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("__pos", "__w")
    )
    leads = [F.col("__w")] + [F.lead("__w", i).over(w) for i in range(1, k)]
    cnt = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    grams = (
        exploded.withColumn("__gram", F.concat_ws(" ", *leads))
        .withColumn("__n_tok", cnt)
        .filter(F.col("__pos") + k <= F.col("__n_tok"))
        .select(
            id_col,
            "__pos",
            "__n_tok",
            F.xxhash64(F.col("__gram")).alias("__gh"),
        )
    )
    # grams seen in >= 2 distinct docs; the count_distinct is capped at 2
    # by the early filter semantics of the downstream semi join (the agg
    # itself is exact but tiny: one row per distinct gram hash)
    dup_hashes = (
        grams.groupBy("__gh")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("__gh")
    )
    dup_positions = grams.join(dup_hashes, "__gh", "left_semi")
    # merge overlapping [pos, pos+k) intervals per doc: gaps-and-islands —
    # a new island starts when this gram begins at/after every prior end
    prev_end = F.max(F.col("__pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup_positions.withColumn(
        "__new", F.when(F.col("__pos") >= F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    ).withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy(id_col, "__island").agg(
        F.min("__n_tok").alias("__n_tok"),
        F.count(F.lit(1)).alias("__grams"),
        (F.max(F.col("__pos") + k) - F.min("__pos")).alias("__covered"),
    )
    per_doc = per_island.groupBy(id_col).agg(
        F.min("__n_tok").alias("__n_tok"),
        F.sum("__grams").alias("dup_gram_count"),
        F.count(F.lit(1)).alias("dup_span_count"),
        F.sum("__covered").alias("dup_token_count"),
    )
    base = df.select(
        F.col(id_col), F.size(words(F.col(text_col))).alias("n_tokens")
    )
    return (
        base.join(per_doc.drop("__n_tok"), id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_gram_count", F.lit(0)).alias("dup_gram_count"),
            F.coalesce("dup_span_count", F.lit(0)).alias("dup_span_count"),
            F.coalesce("dup_token_count", F.lit(0)).alias("dup_token_count"),
        )
    )
