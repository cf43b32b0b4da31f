"""Text-analysis operators for corpus pipelines: language-ID, quality scoring,
token counting, document fingerprinting. All pure Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_rivers_spark.operators.dedup import words
from data_rivers_spark.session import fan_out, stage

# Tiny per-language stopword lists for the heuristic language-ID. Deliberately
# short: the operator demonstrates the scoring shape; swap in real lists (or a
# fastText UDF) for production quality.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "por", "los"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est", "pour", "les"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist", "von", "mit"],
}

# BPE-ish token heuristic: word pieces, numbers, or single non-space symbols
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: alpha runs + digit runs + individual symbols —
    a cheap proxy for subword tokenizer counts."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def stopword_ratio(text: Column, stopwords: list[str]) -> Column:
    ws = words(text)
    n = F.size(ws)
    hits = F.size(F.filter(ws, lambda w: w.isin(stopwords)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def quality_features(df: DataFrame, text_col: str, prefix: str = "q_") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length quality
    signals (the standard pre-training corpus filters).

    Fanned out before the per-row work (session.fan_out, a no-op on a
    well-split input): the regex + word-split + HOF expressions here are
    orders of magnitude heavier than the scan, and a single-split parquet
    input would otherwise evaluate them all in ONE task (r13 profile:
    q_corpus_prep spent its wall in 4.5-8 s single-task expression stages)."""
    df = fan_out(df)
    text = F.col(text_col)
    n_chars = F.length(text)
    ws = words(text)
    n_words = F.size(ws)
    # count punctuation by MATCHING, not by stripping: the negated-class
    # regexp_replace materialized a stripped copy of every document just to
    # take its length — measured 18.7 s of the 19.3 s quality_features pass
    # on the 64x scaling fixture (320k docs), vs 0.50 s for regexp_count
    # (37x; r14). Each punctuation char is a single-char non-overlapping
    # match, so the count is the identical integer (equivalence
    # property-tested incl. NULL/empty/unicode).
    punct = F.regexp_count(text, F.lit(r"[!-/:-@\[-`{-~]"))
    mean_wl = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double") / n_words
    )
    return (
        df.withColumn(f"{prefix}n_chars", n_chars)
        .withColumn(f"{prefix}n_words", n_words)
        .withColumn(
            f"{prefix}punct_ratio",
            F.when(n_chars == 0, F.lit(0.0)).otherwise(punct.cast("double") / n_chars),
        )
        .withColumn(f"{prefix}stopword_ratio", stopword_ratio(text, STOPWORDS["en"]))
        .withColumn(f"{prefix}mean_word_len", mean_wl)
    )


def detect_language(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language-ID: argmax stopword-hit ratio; 'und' when nothing
    hits. Ties resolve by language-code order for determinism.

    Fanned out before the per-row work (see quality_features): one
    stopword_ratio per configured language = n_langs word-splits + set-probe
    filters per row — scan-dominating by far."""
    df = fan_out(df)
    text = F.col(text_col)
    best = None
    best_score = None
    for lang in sorted(STOPWORDS):
        score = stopword_ratio(text, STOPWORDS[lang])
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            cond = score > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, score).otherwise(best_score)
    return df.withColumn(
        out_col, F.when(best_score > 0, best).otherwise(F.lit("und"))
    )


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """64-bit document fingerprint over normalized text (lowercased,
    whitespace-collapsed) — xxhash64, stable across runs."""
    normalized = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, F.xxhash64(normalized))


def shingle_fingerprints(df: DataFrame, text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """Rolling n-word shingle fingerprints, exploded to (id, pos, shingle_hash)
    — the building block for substring-level contamination checks."""
    from data_rivers_spark.operators.dedup import word_shingles

    sh = word_shingles(F.col(text_col), n)
    return df.select(
        F.col(id_col),
        F.posexplode(F.transform(sh, lambda s: F.xxhash64(s))).alias("pos", "shingle_hash"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    strip_punct: bool = False,
    mask_digits: bool = False,
) -> DataFrame:
    """Corpus text normalization (the standard pre-tokenization cleanup
    pipeline): lowercase → strip control chars → optional punctuation strip /
    digit masking → whitespace collapse + trim. Pure regexp expressions;
    composable with fingerprint() for normalized-dedup keys.

    Fanned out before the per-row work (see quality_features): 3-4 regex
    passes over the full text per row dominate the scan."""
    df = fan_out(df)
    out_col = out_col or text_col
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if strip_control:
        c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    if strip_punct:
        c = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", " ")
    if mask_digits:
        c = F.regexp_replace(c, r"[0-9]", "0")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥ min_hits
    n-gram shingles with a benchmark/eval set (the standard n-gram overlap
    contamination check for pre-training corpora).

    Scale: both sides reduce to (id, shingle_hash) rows; the join is equi on
    the 8-byte hash with the (small) benchmark side broadcast. Returns docs
    with a ``contaminated`` bool and ``contam_hits`` count."""
    from data_rivers_spark.operators.dedup import word_shingle_rows

    doc_sh = word_shingle_rows(docs, text_col, id_col, shingle_n).select(
        id_col, F.xxhash64("shingle").alias("__h")
    )
    bench_sh = F.broadcast(
        word_shingle_rows(benchmark, text_col, id_col, shingle_n)
        .select(F.xxhash64("shingle").alias("__h"))
        .distinct()
    )
    hits = (
        doc_sh.join(bench_sh, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contam_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("contam_hits", F.coalesce(F.col("contam_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("contam_hits") >= min_hits)
    )


def tf_idf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = term count in doc, idf =
    ln(N / doc-freq), ranked (score desc, term asc).

    All-native: explode → two counted aggregations → broadcast idf join →
    window top-k. The idf table is vocabulary-sized (small) → broadcast.
    N (corpus size) is a one-row aggregate cross-joined into the idf branch —
    part of the same plan, not a separate df.count() job."""
    from pyspark.sql import Window

    from data_rivers_spark.operators.dedup import words

    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    tokens = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.log(F.col("__n_docs") / F.col("df")))
    )
    scored = tf.join(F.broadcast(idf.select("term", "idf")), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 4)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def quantile_trim(
    df: DataFrame,
    score_col: str,
    id_col: str,
    group_col: str | None = None,
    low: float = 0.0,
    high: float = 1.0,
) -> DataFrame:
    """Keep rows whose percent_rank on ``score_col`` falls in [low, high]
    within each group — the per-language quality trim ("drop the bottom 10%
    by quality score per language") that keeps a multilingual corpus from
    being filtered on one language's score distribution.

    percent_rank (not a float quantile threshold) makes the cut
    integer-deterministic: ties share a rank, and the (score, id) ordering
    breaks them reproducibly, so engines agree on exactly which rows survive.

    Scale note: an exact per-group rank is a per-group sort. Groups here are
    languages (dozens), so each group's sort distributes over its hash
    partitions. For trims on high-cardinality groups or where approximation
    is fine, compute approx_percentile thresholds per group and
    broadcast-join them instead — that form is one aggregation + a map-side
    filter, no full sort."""
    from pyspark.sql import Window

    part = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    w = part.orderBy(F.asc(score_col), F.asc(id_col))
    pr = F.percent_rank().over(w)
    return (
        df.withColumn("__pr", pr)
        .filter((F.col("__pr") >= low) & (F.col("__pr") <= high))
        .drop("__pr")
    )


def sequential_pack(
    df: DataFrame,
    token_count_col: str,
    id_col: str,
    budget: int,
    group_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget chunks by running total — the
    concat-then-chunk packing step of LLM pretraining (documents are
    concatenated in a stable order and split every ``budget`` tokens; the
    chunk index says which context window a document starts in).

    chunk_idx = floor((cumsum(tokens) - tokens) / budget) over (group, id)
    order: pure integer window arithmetic, reproducible on any engine.

    Scale note: the cumulative sum is a per-group sorted window — each GROUP
    packs in a single task, so an entire 100 TB corpus as ONE group (or a
    handful of split/language groups) would serialize. Real pipelines pack
    within natural shards (language × source × date, or an explicit
    hash-bucket column) — pass that as ``group_col`` — or use
    ``sequential_pack_scalable`` (identical output, two-pass
    per-partition-prefix, no per-group serialization). Chunks never span
    groups, which is also what you want semantically (no cross-language
    context windows)."""
    from pyspark.sql import Window

    part = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    w = part.orderBy(F.asc(id_col))
    start = F.sum(F.col(token_count_col)).over(w) - F.col(token_count_col)
    return df.withColumn("chunk_idx", F.floor(start / F.lit(budget)))


def sequential_pack_scalable(
    df: DataFrame,
    token_count_col: str,
    id_col: str,
    budget: int,
    group_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe twin of ``sequential_pack``: identical chunk_idx output
    without the one-sort-task-per-group window (a per-group cumsum window
    serializes each GROUP into a single task — with group = language or
    split that is corpus/7 or corpus/2 rows per task at 100 TB).

    Two-pass per-partition-prefix plan (the global_row_number_scalable
    pattern, relational.py, applied to a running SUM): (1) range-repartition
    on (group, id) so each partition holds a contiguous slice of every
    group's id order; (2) a LOCAL cumsum window partitioned on
    (spark_partition_id, group) — every task sorts only its own slice;
    (3) per-(group, partition) token totals (a groups × partitions row
    aggregate) become per-group cumulative offsets via a tiny window, then
    broadcast-join back: start = local_start + offset,
    chunk_idx = floor(start / budget). Two full-width shuffles (range +
    pid·group hash) and one broadcast replace the per-group serialization.

    The locally cumsum'd frame is eagerly localCheckpointed so the totals
    branch and the output branch read ONE computed RDD — offset correctness
    REQUIRES both branches to see the same partition assignment, and
    Catalyst compiles them as two separate range exchanges otherwise (the
    global_row_number_scalable plan-audit finding; same reasoning).

    NULL groups pack like any other group (the window form's partitionBy
    semantics): the offsets join is built with eqNullSafe on the group key,
    because a plain inner equi-join would silently DROP every NULL-group
    row — NULL never equals NULL (r12 advice, high)."""
    from pyspark.sql import Window

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    order = ([F.col(group_col)] if group_col else []) + [F.col(id_col)]
    ranged = df.repartitionByRange(parts, *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    local_keys = ["__pid"] + ([group_col] if group_col else [])
    local_w = Window.partitionBy(*local_keys).orderBy(F.asc(id_col))
    numbered = ranged.withColumn(
        "__lstart",
        F.sum(F.col(token_count_col)).over(local_w) - F.col(token_count_col),
    )
    numbered = stage(numbered, "pack_numbered")
    tot_keys = ([group_col] if group_col else []) + ["__pid"]
    totals = numbered.groupBy(*tot_keys).agg(
        F.sum(F.col(token_count_col)).alias("__tot")
    )
    off_part = (
        Window.partitionBy(group_col) if group_col else Window.partitionBy()
    )
    off_w = off_part.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(off_w), F.lit(0))
    ).select(
        *[F.col(k).alias(f"__o_{k}") for k in tot_keys], "__off"
    )
    cond = numbered["__pid"] == offsets["__o___pid"]
    if group_col:
        # eqNullSafe: NULL-group rows must find their (NULL-group) offset
        cond = numbered[group_col].eqNullSafe(offsets[f"__o_{group_col}"]) & cond
    return (
        numbered.join(F.broadcast(offsets), cond)
        .withColumn(
            "chunk_idx",
            F.floor((F.col("__lstart") + F.col("__off")) / F.lit(budget)),
        )
        .select(*df.columns, "chunk_idx")
    )


def corpus_report(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-group corpus profile: document count, token totals, length
    distribution buckets — the health dashboard run before and after every
    curation step. One pass, all map-side-combinable aggregates."""
    n_tok = token_count_ws(F.col(text_col))
    n_chr = F.length(F.col(text_col))
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.round(F.avg(n_tok), 2).alias("avg_tokens"),
        F.max(n_tok).alias("max_tokens"),
        F.round(F.avg(n_chr), 2).alias("avg_chars"),
        F.sum(F.when(n_chr < 200, 1).otherwise(0)).alias("n_short"),
        F.sum(F.when((n_chr >= 200) & (n_chr < 1000), 1).otherwise(0)).alias("n_mid"),
        F.sum(F.when(n_chr >= 1000, 1).otherwise(0)).alias("n_long"),
    )


# ---------------------------------------------------------------------------
# Repetition filters (Gopher rules)
# ---------------------------------------------------------------------------


def line_repetition_stats(
    df: DataFrame, text_col: str, id_col: str, sep: str = "\n"
) -> DataFrame:
    """Per-document duplicate-line statistics — the Gopher repetition rules
    over lines (Rae et al. 2021, table A1; also Dolma's gopher tagger):

    - ``dup_line_frac``   — fraction of lines that are repeats of an earlier
      line: (n_lines - n_distinct_lines) / n_lines.
    - ``dup_line_char_frac`` — fraction of line characters inside lines that
      occur more than once (ALL occurrences counted, per the reference
      implementations).

    Shape: explode lines → count per (id, line) → re-aggregate per id. Both
    aggregations are map-side combinable and key on (id[, line]), so the
    work distributes evenly at any corpus size — no per-doc quadratic array
    scan (an O(lines²) higher-order-function form would be interpreted and
    per-doc serial).

    Docs with no separator are a single line (dup fractions 0.0) — mirrors
    ``split()`` semantics on both engines.

    Fanned out before the per-row work (see quality_features): the
    split+explode+partial-agg map side runs in the scan stage, single-task
    on a single-split input.
    """
    df = fan_out(df)
    ex = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), sep)).alias("__line")
    )
    per_line = ex.groupBy(id_col, "__line").agg(F.count(F.lit(1)).alias("__cnt"))
    chars = F.length(F.col("__line")) * F.col("__cnt")
    n_lines = F.sum("__cnt")
    return per_line.groupBy(id_col).agg(
        n_lines.alias("n_lines"),
        ((n_lines - F.count(F.lit(1))).cast("double") / n_lines).alias(
            "dup_line_frac"
        ),
        (
            F.sum(F.when(F.col("__cnt") > 1, chars).otherwise(F.lit(0))).cast("double")
            / F.greatest(F.sum(chars), F.lit(1))
        ).alias("dup_line_char_frac"),
    )


def _doc_norm_chars(text: Column) -> Column:
    """Character count of the whitespace-normalized lowercased doc — the
    denominator all n-gram char fractions share (LEN(ARRAY_TO_STRING(ws)) in
    the DuckDB oracle)."""
    return F.length(F.concat_ws(" ", words(text)))


def top_ngram_char_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 2, out_col: str | None = None
) -> DataFrame:
    """Fraction of (normalized) document characters covered by the single
    most frequent word n-gram: count * len(gram) / norm_chars — Gopher's
    "top n-gram" rule (applied at n=2,3,4 with thresholds 0.20/0.18/0.16).

    Ties break on the lexicographically greatest gram via max(struct(cnt,
    gram)) — deterministic and identical to the oracle's ORDER BY cnt DESC,
    gram DESC. The per-(id, gram) count and the per-id argmax are both
    hash-aggregates with map-side combine; nothing is quadratic."""
    out = out_col or f"top_{n}gram_char_frac"
    from data_rivers_spark.operators.dedup import word_shingle_rows

    totals = df.select(
        F.col(id_col), _doc_norm_chars(F.col(text_col)).alias("__norm_chars")
    )
    counts = (
        word_shingle_rows(df, text_col, id_col, n)
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    best = counts.groupBy(id_col).agg(
        F.max(F.struct(F.col("__cnt"), F.col("shingle"))).alias("__best")
    )
    return totals.join(best, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("__norm_chars") == 0, F.lit(0.0))
        .otherwise(
            (F.col("__best.__cnt") * F.length(F.col("__best.shingle"))).cast("double")
            / F.col("__norm_chars")
        )
        .alias(out),
    )


def dup_ngram_char_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 5, out_col: str | None = None
) -> DataFrame:
    """Fraction of (normalized) document characters COVERED by repeat
    occurrences of duplicated word n-grams — Gopher's "duplicate n-gram"
    rule (n=5..10, thresholds 0.15..0.10). Character coverage, not a count:
    repeat (non-first) occurrences of every gram seen more than once mark
    their [start, start+len) span in normalized-document coordinates, and
    overlapping spans are union-merged before dividing by the document
    length — so the metric is bounded by 1.0 and the published thresholds
    transfer (the earlier count×len form double-counted overlapping
    occurrences and could exceed 1.0, e.g. 54/19 on an all-same-token doc).

    Shape: posexplode words → lead-window gram construction + running char
    offsets → per-(id, gram) occurrence-rank → per-id interval-union
    sweep (ordered window, running max of span end). All windows key on the
    doc id (plus gram), so the work distributes evenly at corpus scale; no
    per-doc quadratic scan and no Python in the loop.

    Round-5 plan surgery, with the honest A/B (VERDICT r4 #6 suspected the
    gopher cost hid a scale-killer here):
    - the doc rows repartition on id BEFORE the explode (word_shingle_rows
      rationale): HashPartitioning(id) satisfies every downstream window's
      clustering — including the (id, gram) ones, id being a subset — so
      the ONLY exchange moves one text row per doc instead of every
      exploded word row, and the explode runs at full core parallelism.
    - the per-(id, gram) COUNT window was dropped entirely: filtering
      occurrence rank >= 2 already implies count > 1, so the count pass
      (a fourth window + sort over the word rows) computed nothing the
      rank didn't.
    MEASURED at the 64× scaling cell (320k docs, per-op cold JVM): 7.96 s
    before → 7.68 s after (1.04×), i.e. the windows were NOT the gopher
    bottleneck — profiling shows the three feature pipelines (line stats
    3.45 s, top-2-gram 2.95 s, dup-5-gram 3.04 s) cost ~3 s EACH, evenly:
    the operator family is scan/explode-bound and linear, with no single
    hot stage. The surgery is kept because it strictly removes a window
    sort and shrinks the shuffle from word rows to doc rows, but no ≥1.5×
    win exists in this family; the 29.2 s 256× cell is three linear
    pipelines over 82M exploded tokens, not a plan defect."""
    from pyspark.sql import Window

    from data_rivers_spark.operators.dedup import _shingle_partition_count, words

    out = out_col or f"dup_{n}gram_char_frac"
    totals = df.select(
        F.col(id_col), _doc_norm_chars(F.col(text_col)).alias("__norm_chars")
    )
    ex = df.repartition(_shingle_partition_count(df, None), F.col(id_col)).select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("__pos", "__w")
    )
    wseq = Window.partitionBy(id_col).orderBy("__pos")
    # char offset of word i in the normalized doc: sum of len+1 over priors
    start = F.coalesce(
        F.sum(F.length("__w") + 1).over(
            wseq.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    gram = F.concat_ws(
        " ", F.col("__w"), *[F.lead("__w", k).over(wseq) for k in range(1, n)]
    )
    occ = ex.select(
        F.col(id_col),
        gram.alias("__gram"),
        start.alias("__st"),
        # a complete gram needs the (n-1)-ahead word to exist
        F.lead("__w", n - 1).over(wseq).isNotNull().alias("__full"),
    ).filter(F.col("__full"))
    marked = occ.select(
        F.col(id_col),
        "__st",
        (F.col("__st") + F.length("__gram")).alias("__en"),
        # rank >= 2 alone marks exactly the repeat occurrences (it implies
        # the gram's count > 1) — no separate count window needed
        F.row_number()
        .over(Window.partitionBy(id_col, "__gram").orderBy("__st"))
        .alias("__occ"),
    ).filter(F.col("__occ") >= 2)
    # interval union: sweep spans by start, clip each against the running
    # max end of everything before it
    wcov = Window.partitionBy(id_col).orderBy("__st", "__en")
    prev_end = F.max("__en").over(wcov.rowsBetween(Window.unboundedPreceding, -1))
    covered = F.greatest(
        F.col("__en") - F.greatest(F.col("__st"), F.coalesce(prev_end, F.col("__st"))),
        F.lit(0),
    )
    dup_chars = (
        marked.select(F.col(id_col), covered.alias("__c"))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("__dup_chars"))
    )
    return totals.join(dup_chars, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("__norm_chars") == 0, F.lit(0.0))
        .otherwise(
            F.coalesce(F.col("__dup_chars"), F.lit(0)).cast("double")
            / F.col("__norm_chars")
        )
        .alias(out),
    )


GOPHER_TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_ngram_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """ALL of Gopher's published n-gram repetition features in ONE pass
    (Rae et al. 2021 table A1): ``top_{n}gram_char_frac`` for n in
    ``top_ns`` and ``dup_{n}gram_char_frac`` for n in ``dup_ns`` — same
    per-feature semantics as top_ngram_char_fraction /
    dup_ngram_char_fraction, which remain the single-n building blocks.

    Why one pass matters at corpus scale: the naive composition runs nine
    independent explode→window pipelines, i.e. nine scans and nine
    doc-row shuffles of the same corpus with nine separate lead-window
    sorts. Here ONE window pass computes char offsets plus the max(n)-1
    lead words, and every n-gram for every n derives from that frame via
    a 9-struct posexplode. All later stages — per-(id,n,gram) counts and
    occurrence ranks, per-(id,n) argmax / interval-union sweeps, and the
    final pivots — key on id-prefixed columns, and HashPartitioning(id)
    satisfies each of their clustering requirements (id is a subset), so
    no word-row or gram-row exchange exists anywhere in the plan. The
    audited plan holds exactly two exchanges, both DOC-row repartitions
    (the top and dup branches each re-derive the shared word frame from
    the pruned parquet scan — lineage reuse, not computation reuse;
    checkpointing the 9x-exploded token frame instead would cost
    corpus × tokens × 9 of executor storage, the documented anti-trade).

    Short-doc semantics match the building blocks: top-n grams degrade to
    one truncated gram per doc (concat_ws skips missing leads); dup-n
    grams require the full n words."""
    from pyspark.sql import Window

    from data_rivers_spark.operators.dedup import _shingle_partition_count, words

    all_ns = sorted(set(top_ns) | set(dup_ns))
    max_n = max(all_ns)
    totals = df.select(
        F.col(id_col), _doc_norm_chars(F.col(text_col)).alias("__norm_chars")
    )
    ex = df.repartition(_shingle_partition_count(df, None), F.col(id_col)).select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("__pos", "__w")
    )
    wseq = Window.partitionBy(id_col).orderBy("__pos")
    start = F.coalesce(
        F.sum(F.length("__w") + 1).over(
            wseq.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    # leads materialize as plain columns FIRST: Spark rejects window
    # expressions inside a generator, so the struct array must reference
    # already-projected lead columns
    led = ex.select(
        F.col(id_col),
        F.col("__pos"),
        F.col("__w"),
        start.alias("__st"),
        cnt.alias("__cnt"),
        *[F.lead("__w", k).over(wseq).alias(f"__l{k}") for k in range(1, max_n)],
    )
    gram_structs = F.array(
        *[
            F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(
                    " ", F.col("__w"), *[F.col(f"__l{k}") for k in range(1, n)]
                ).alias("gram"),
                F.col(f"__l{n - 1}").isNotNull().alias("full"),
            )
            for n in all_ns
        ]
    )
    tall = (
        led.select(
            F.col(id_col),
            F.col("__pos"),
            "__st",
            "__cnt",
            F.explode(gram_structs).alias("__g"),
        )
        .select(
            F.col(id_col),
            F.col("__g.n").alias("__n"),
            F.col("__g.gram").alias("__gram"),
            "__st",
            "__pos",
            "__cnt",
            F.col("__g.full").alias("__full"),
        )
        .filter(
            F.col("__full")
            | ((F.col("__cnt") <= F.col("__n")) & (F.col("__pos") == 0))
        )
    )
    # top-n: per-(id, n, gram) count -> per-(id, n) argmax (cnt, gram)
    top = (
        tall.filter(F.col("__n").isin(list(top_ns)))
        .groupBy(id_col, "__n", "__gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col, "__n")
        .agg(F.max(F.struct(F.col("__c"), F.col("__gram"))).alias("__best"))
        .select(
            F.col(id_col),
            "__n",
            (F.col("__best.__c") * F.length(F.col("__best.__gram"))).alias(
                "__top_chars"
            ),
        )
    )
    top_piv = (
        top.groupBy(id_col)
        .pivot("__n", list(top_ns))
        .agg(F.first("__top_chars"))
    )
    # dup-n: repeat occurrences mark [st, st+len) spans; per-(id, n)
    # interval-union sweep
    occ = Window.partitionBy(id_col, "__n", "__gram").orderBy("__st")
    marked = (
        tall.filter(F.col("__n").isin(list(dup_ns)) & F.col("__full"))
        .select(
            F.col(id_col),
            "__n",
            "__st",
            (F.col("__st") + F.length("__gram")).alias("__en"),
            F.row_number().over(occ).alias("__occ"),
        )
        .filter(F.col("__occ") >= 2)
    )
    wcov = Window.partitionBy(id_col, "__n").orderBy("__st", "__en")
    prev_end = F.max("__en").over(wcov.rowsBetween(Window.unboundedPreceding, -1))
    covered = F.greatest(
        F.col("__en")
        - F.greatest(F.col("__st"), F.coalesce(prev_end, F.col("__st"))),
        F.lit(0),
    )
    dup = (
        marked.select(F.col(id_col), "__n", covered.alias("__c"))
        .groupBy(id_col, "__n")
        .agg(F.sum("__c").alias("__dup_chars"))
    )
    dup_piv = (
        dup.groupBy(id_col).pivot("__n", list(dup_ns)).agg(F.first("__dup_chars"))
    )
    frac = lambda c: F.when(  # noqa: E731
        F.col("__norm_chars") == 0, F.lit(0.0)
    ).otherwise(F.coalesce(c, F.lit(0)).cast("double") / F.col("__norm_chars"))
    return (
        totals.join(top_piv, id_col, "left")
        .join(dup_piv, id_col, "left")
        .select(
            F.col(id_col),
            *[
                frac(F.col(str(n))).alias(f"top_{n}gram_char_frac")
                for n in top_ns
            ],
            *[
                frac(F.col(str(n))).alias(f"dup_{n}gram_char_frac")
                for n in dup_ns
            ],
        )
    )


def gopher_repetition_filter_full(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    top_thresholds: dict = GOPHER_TOP_NGRAM_THRESHOLDS,
    dup_thresholds: dict = GOPHER_DUP_NGRAM_THRESHOLDS,
    line_sep: str = "\n",
) -> DataFrame:
    """The COMPLETE Gopher repetition rule table (2 line rules + 3 top-n
    + 6 dup-n, published thresholds) composed into one audit frame with a
    ``keep`` verdict — gopher_repetition_filter remains the cheap 4-rule
    variant. Two shuffles total: the line stats' explode-agg and the
    one-pass n-gram family."""
    feats = line_repetition_stats(df, text_col, id_col, sep=line_sep).join(
        gopher_ngram_features(
            df, text_col, id_col,
            tuple(sorted(top_thresholds)), tuple(sorted(dup_thresholds)),
        ),
        id_col,
    )
    keep = (F.col("dup_line_frac") <= max_dup_line_frac) & (
        F.col("dup_line_char_frac") <= max_dup_line_char_frac
    )
    for n, thr in sorted(top_thresholds.items()):
        keep = keep & (F.col(f"top_{n}gram_char_frac") <= thr)
    for n, thr in sorted(dup_thresholds.items()):
        keep = keep & (F.col(f"dup_{n}gram_char_frac") <= thr)
    return feats.withColumn("keep", keep)


def gopher_repetition_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_2gram_char_frac: float = 0.20,
    max_dup_5gram_char_frac: float = 0.15,
    line_sep: str = "\n",
) -> DataFrame:
    """Compose the Gopher repetition rules into one per-document ``keep``
    verdict (all feature columns retained for audit). Each feature is an
    independent explode→agg pipeline joined back on id — at corpus scale the
    joins are co-partitioned on the id hash, so AQE coalesces them without
    extra exchanges.

    Plan-audit note: the (id, text) columns are scanned once per feature
    family (the line stats, top-n-gram, and dup-n-gram pipelines each need
    a different explode granularity). Collapsing to one scan would require
    checkpointing a token-level frame — corpus × tokens bytes of executor
    storage — which costs more than re-reading two pruned parquet columns
    at any scale; callers composing many filters over the same batch can
    pass an already-cached ``df`` to amortize instead."""
    feats = (
        line_repetition_stats(df, text_col, id_col, sep=line_sep)
        .join(top_ngram_char_fraction(df, text_col, id_col, 2), id_col)
        .join(dup_ngram_char_fraction(df, text_col, id_col, 5), id_col)
    )
    keep = (
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top_2gram_char_frac") <= max_top_2gram_char_frac)
        & (F.col("dup_5gram_char_frac") <= max_dup_5gram_char_frac)
    )
    return feats.withColumn("keep", keep)


# ---------------------------------------------------------------------------
# C4-style line filtering (Raffel et al. 2020 §2.2 cleaning heuristics)
# ---------------------------------------------------------------------------


def c4_quality_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words_per_line: int = 3,
    min_kept_lines: int = 3,
    line_sep: str = "\n",
) -> DataFrame:
    """The C4 cleaning rules as one per-row expression (no shuffle at all):

    - keep only lines that end in terminal punctuation (. ! ? ")
    - drop lines with fewer than ``min_words_per_line`` words
    - drop lines containing the word "javascript" (case-insensitive)
    - doc-level: reject any document containing "lorem ipsum" or "{", or
      retaining fewer than ``min_kept_lines`` lines after line filtering

    Output keeps every input row (audit posture, like gopher_repetition_
    filter): ``kept_text`` (surviving lines re-joined), ``n_lines``,
    ``n_lines_kept``, ``keep``. Filter-and-project afterwards to apply.

    Scale: the whole operator is a Catalyst higher-order-function pipeline
    over the line array — per-row, no explode, no aggregation, so it
    composes with any partitioning and pushes through joins untouched.
    Fanned out first (see quality_features): per-row HOF line filtering
    dominates the scan, and single-split inputs would run it in one task."""
    df = fan_out(df)
    lines = F.split(F.col(text_col), line_sep)
    keep_line = (
        lambda x: F.rtrim(x).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(x), r"\s+")) >= F.lit(min_words_per_line))
        & ~F.lower(x).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    doc_ok = (
        ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, line_sep).alias("kept_text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        (doc_ok & (F.size(kept) >= F.lit(min_kept_lines))).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Corpus-level vocabulary / unigram LM / inverted index
# ---------------------------------------------------------------------------


def vocabulary(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: per-token total count and document frequency,
    ranked by (count desc, token asc) — the tokenizer-training /
    frequency-cutoff primitive.

    Scale: explode → one hash-aggregate keyed on token (map-side combined;
    doc_freq via count(distinct id) resolves as a two-phase aggregate on the
    same key). The rank window is a single-partition sort over the VOCAB,
    not the corpus — vocabularies are ~10⁶ rows at any corpus size, so this
    is deliberate, not a scale bug; pass top_k to cut the output."""
    from pyspark.sql import Window

    ex = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("token")
    )
    counts = ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct(F.col(id_col)).alias("doc_freq"),
    )
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= F.lit(min_count))
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token"))),
    )
    if top_k is not None:
        ranked = ranked.filter(F.col("rank") <= F.lit(top_k))
    return ranked


def unigram_logprob_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ndigits: int = 4,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the CCNet-style fluency signal (CCNet scores with a
    pretrained LM; the self-LM flavor needs no external artifact and flags
    the same tail of rare-token/gibberish documents).

    score(doc) = avg over token OCCURRENCES of ln(count(token) / total) —
    no smoothing needed, every scored token is in the corpus by
    construction. More-negative = rarer vocabulary.

    Scale: one token-keyed aggregate for the LM, one join of the exploded
    corpus back to it (both sides shuffle on the token hash), one doc-keyed
    mean. The total-token scalar folds in as a window-free cross join of a
    1-row aggregate, not a driver round-trip.

    The LM frame is eagerly localCheckpointed — it is vocab-sized (small at
    any corpus size), and without it Catalyst re-plans the full
    tokenize+aggregate subtree for BOTH consumers (the scoring join and the
    total), tokenizing the corpus three times instead of twice
    (plan-audited; DataFrame reuse is lineage reuse, not computation reuse
    — same lesson as the LSH shingle frame)."""
    ex = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("token"))
    lm = ex.groupBy("token").agg(F.count(F.lit(1)).alias("__cnt"))
    lm = stage(lm, "unigram_lm")
    total = lm.agg(F.sum("__cnt").alias("__total"))
    scored = (
        ex.join(lm, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("__cnt").cast("double") / F.col("__total"))),
                ndigits,
            ).alias("unigram_logprob"),
        )
    )
    # empty docs have no token rows: restore them with NULL score
    return df.select(F.col(id_col)).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.col("unigram_logprob"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 1,
    max_postings: int | None = None,
) -> DataFrame:
    """Token → posting list (sorted distinct doc ids) with document
    frequency — the keyword-search / audit primitive over a corpus.

    The posting list is emitted as a comma-joined STRING (sorted ascending,
    truncated to ``max_postings`` entries) per the repo oracle protocol —
    no raw array columns in driver-checked output. ``doc_freq`` always
    counts the FULL posting set even when the emitted list is truncated.

    Scale: distinct (token, id) pairs → one aggregate keyed on token.
    collect_set is bounded by per-token document frequency; cap the emitted
    list with ``max_postings`` (stopword-like tokens appear in every doc —
    at 100 TB their full posting lists are themselves big data, so the
    operator surfaces df + a bounded sample rather than an unbounded row)."""
    pairs = df.select(
        F.explode(words(F.col(text_col))).alias("token"), F.col(id_col)
    ).distinct()
    postings = F.sort_array(F.collect_set(F.col(id_col)))
    if max_postings is not None:
        emitted = F.slice(postings, 1, max_postings)
    else:
        emitted = postings
    out = pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.array_join(emitted.cast("array<string>"), ",").alias("postings"),
    )
    if min_df > 1:
        out = out.filter(F.col("doc_freq") >= F.lit(min_df))
    return out


def quantile_trim_approx(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    low: float = 0.0,
    high: float = 1.0,
    accuracy: int = 10_000,
) -> DataFrame:
    """The scale form of ``quantile_trim``: per-group approx_percentile
    thresholds (one map-side-combinable aggregation over a t-digest-style
    sketch) broadcast back as a plain filter — no per-group sort, no rank
    window, so it works for high-cardinality groups where an exact
    percent_rank would sort every group.

    Tradeoff vs the exact form: boundary rows within the sketch's rank
    error (~1/accuracy of each group) may differ; use the exact form when
    reproducibility of the exact cut matters more than cost."""
    aggs = [
        F.percentile_approx(F.col(score_col), F.lit(low), F.lit(accuracy)).alias("__lo"),
        F.percentile_approx(F.col(score_col), F.lit(high), F.lit(accuracy)).alias("__hi"),
    ]
    if group_col:
        th = df.groupBy(group_col).agg(*aggs)
        joined = df.join(F.broadcast(th), group_col)
    else:
        joined = df.crossJoin(F.broadcast(df.agg(*aggs)))
    return joined.filter(
        (F.col(score_col) >= F.col("__lo")) & (F.col(score_col) <= F.col("__hi"))
    ).drop("__lo", "__hi")


def remove_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 5,
    sep: str = "\n",
) -> DataFrame:
    """Span-level decontamination (the Dolma-style alternative to dropping
    whole documents): delete the individual paragraphs/lines that share an
    n-gram shingle with the benchmark set and keep the rest of the
    document. Use ``flag_contaminated`` when policy is doc-level removal.

    Output: (id, clean_text, n_spans, n_removed).

    Scale: docs explode to (id, pos, span) once; each span's shingles
    explode and probe the broadcast benchmark hash set (same 8-byte
    equi-join as flag_contaminated); hit span keys come back as one
    left-semi-joinable frame. Two doc-keyed shuffles (hit aggregation +
    reassembly), benchmark side broadcast, nothing quadratic."""
    from data_rivers_spark.operators.dedup import word_shingle_rows, words

    spans = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__span")
    )
    # shingle each span; spans shorter than n words fall back to the whole
    # span (word_shingle_rows semantics) so short quotes still match
    span_sh = word_shingle_rows(
        spans.withColumn("__sid", F.concat_ws(":", F.col(id_col), F.col("__pos"))),
        "__span",
        "__sid",
        shingle_n,
    ).select("__sid", F.xxhash64("shingle").alias("__h"))
    bench_sh = F.broadcast(
        word_shingle_rows(benchmark, text_col, id_col, shingle_n)
        .select(F.xxhash64("shingle").alias("__h"))
        .distinct()
    )
    hit_sids = span_sh.join(bench_sh, "__h").select("__sid").distinct()
    flagged = spans.withColumn(
        "__sid", F.concat_ws(":", F.col(id_col), F.col("__pos"))
    ).join(hit_sids.withColumn("__hit", F.lit(True)), "__sid", "left")
    kept_struct = F.when(
        F.col("__hit").isNull(), F.struct(F.col("__pos"), F.col("__span"))
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)), lambda s: s["__span"]
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0)).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style serving path)
# ---------------------------------------------------------------------------


def make_hashed_weights(
    spark, num_buckets: int = 1024, seed: int | str = "w", scale: float = 1.0
):
    """Deterministic stand-in for a TRAINED hashed-feature weight vector:
    (bucket, weight) with weight uniform in [-scale, scale] derived from the
    bucket's content hash. In production this table is the classifier's
    learned coefficients exported to parquet; everything downstream
    (featurize → broadcast join → average → sigmoid) is the real serving
    path and is exercised against the oracle with these weights. Serving
    and training now featurize via hashed_feature_rows (codegen explode);
    hashed_features below remains the array-form featurizer for callers
    that need per-doc feature arrays."""
    from data_rivers_spark.operators.sampling import hash_unit_int

    return spark.range(num_buckets).select(
        F.col("id").alias("bucket"),
        (
            (hash_unit_int(F.col("id"), seed).cast("double") / F.lit(float(16**8)))
            * F.lit(2.0 * scale)
            - F.lit(scale)
        ).alias("weight"),
    )


def hashed_features(text: Column, num_buckets: int, seed: int | str = "w") -> Column:
    """Word unigram + bigram features hashed into ``num_buckets`` via the
    hashing trick (no vocabulary lookup — the feature space is fixed at
    serving time regardless of corpus size). Returns an array of bucket ids;
    md5-based so any engine can replay the bucketing."""
    ws = words(text)
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    feats = F.concat(ws, bigrams)
    return F.transform(
        feats,
        lambda s: F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{seed}:"), s)), 1, 8), 16, 10
            ).cast("bigint"),
            F.lit(num_buckets),
        ),
    )


def hashed_feature_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_buckets: int = 1024,
    seed: int | str = "w",
) -> DataFrame:
    """(id, bucket): one row per hashed unigram/bigram OCCURRENCE — the
    CODEGEN form of hashed_features. Two measured walls shaped this:
    (1) the md5 bucketing must run on a plain column AFTER the explode —
    inside the array HOF (hashed_features' form) it runs interpreted per
    element, 93 s for the 5k-doc sf0.1 featurize vs ~3 s exploded (the
    same HOF-vs-codegen wall as dedup.word_shingle_rows); (2) NO sibling
    column may reference the feature array next to the generator — a
    size(feats) projected alongside explode(feats) re-evaluates the whole
    interpreted gram construction PER OUTPUT ROW (measured 53 s for what
    the explode alone does in 2.6 s), so per-doc totals are left to the
    consumer to re-aggregate (hashed_feature_fracs' window). Docs with
    zero features emit no rows (explode of an empty array).

    The input is projected to (id, text) and FANNED OUT before the explode
    (session.fan_out: round-robin repartition only when under-partitioned,
    a no-op on a well-split corpus scan): the gram explode plus an md5+conv
    per occurrence dominates the scan, and a single-split input would run
    the whole featurize in one task (the r13 stage profile measured the
    single-task featurize at 1.4 s inside every classifier train/score/
    serve query; same finding as importance.hashed_ngram_features)."""
    df = fan_out(df.select(F.col(id_col), F.col(text_col)))
    ws = words(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    feats = F.concat(ws, bigrams)
    return df.select(F.col(id_col), F.explode(feats).alias("__f")).select(
        id_col,
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}:"), F.col("__f"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(num_buckets),
        ).alias("bucket"),
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    num_buckets: int = 1024,
    seed: int | str = "w",
    bias: float = 0.0,
    out_col: str = "clf_score",
) -> DataFrame:
    """Serve a linear text classifier with the hashing trick: score =
    sigmoid(bias + mean(weight[h(feature)])) over word unigrams+bigrams —
    the fastText-style quality/toxicity classifier pass of corpus curation.

    Scale design: the weight table is tiny (num_buckets rows) and BROADCAST;
    the per-doc explode produces one row per feature, the join is map-side,
    and the re-aggregation groups on the document id — one shuffle keyed by
    id, combiner-friendly (partial sum/count per map task). No Python UDF
    anywhere; the featurizer uses transform/zip_with, which are interpreted
    (CodegenFallback) HOFs — acceptable here because the per-doc feature
    array is O(words) with trivial per-element work. r11: the md5 bucketing
    itself was NOT trivial per-element — on the interpreted HOF path it
    measured 93 s for the 5k-doc sf0.1 featurize — so serving now rides
    hashed_feature_rows' codegen explode (identical buckets, identical
    scores; q_quality_classifier re-hash-verified across the swap). Docs
    with zero features score sigmoid(bias)."""
    feat = hashed_feature_rows(df, text_col, id_col, num_buckets, seed)
    joined = feat.join(F.broadcast(weights), "bucket", "left")
    agg = joined.groupBy(id_col).agg(
        F.sum("weight").alias("__sw"), F.count("weight").alias("__nw")
    )
    margin = F.lit(bias) + F.when(
        F.col("__nw") > 0, F.col("__sw") / F.col("__nw")
    ).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return df.select(F.col(id_col)).join(
        agg.select(F.col(id_col), score.alias(out_col)), id_col, "left"
    ).withColumn(
        out_col,
        F.coalesce(
            F.col(out_col),
            F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-bias))),
        ),
    )


def hashed_feature_fracs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_buckets: int = 1024,
    seed: int | str = "w",
    ndigits: int = 6,
) -> DataFrame:
    """(id, bucket, frac): the document's hashed unigram+bigram multiset as
    NORMALIZED counts, frac = round(count_b / total_features, ndigits) —
    mean-pooled featurization (fastText's pooling) quantized so every
    engine trains/scores from identical rationals. Featurization rides
    hashed_feature_rows' codegen explode (see its HOF-vs-codegen and
    generator-sibling notes); the per-doc feature total is a window sum
    over the AGGREGATED (id, bucket, cnt) frame — one id-keyed exchange of
    a bucket-cardinality frame, far cheaper than re-evaluating the gram
    array next to the generator. Empty/whitespace-only docs contribute no
    rows."""
    from pyspark.sql import Window

    exploded = hashed_feature_rows(df, text_col, id_col, num_buckets, seed)
    counts = exploded.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w = Window.partitionBy(id_col)
    return counts.select(
        id_col,
        "bucket",
        F.round(F.col("__cnt") / F.sum("__cnt").over(w), ndigits).alias("frac"),
    )


def train_hashed_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    num_buckets: int = 1024,
    iterations: int = 2,
    lr: float = 5.0,
    seed: int | str = "w",
    ndigits: int = 6,
    return_feats: bool = False,
    feats: DataFrame | None = None,
):
    """TRAIN the hashed linear quality classifier — the learning half of
    hashed_linear_score's serving path, and the public recipe behind
    classifier-based pretraining-data selection (fastText-style quality
    scorers: DCLM-baseline's fastText filter, FineWeb-Edu's edu-quality
    classifier — a linear model over hashed text features, trained on a
    labeled exemplar set, then swept over the corpus to score every doc).

    Full-batch logistic regression by gradient descent on mean-pooled
    hashed features: z_d = bias + Σ_b frac_db·w_b, p_d = σ(z_d),
    ∂L/∂w_b = Σ_d (p_d − y_d)·frac_db, w ← w − lr·g/N. Every corpus-side
    sum is an exact integer in micro-units (frac and (p−y) are rounded to
    ``ndigits`` and scaled to integers before multiplying), so gradients —
    and therefore the whole training trajectory — are order-free and
    bit-reproducible on any engine: the DuckDB oracle replays training
    iteration-for-iteration (the dsir_importance_weights determinism
    contract, importance.py:183-193, applied to a training loop).

    Scale: each GD iteration is one broadcast join + two id/bucket-keyed
    aggregates over the token-scale feature frame — a corpus pass per
    epoch, which is what batch GD is; the feature frame is checkpointed
    once and reused every iteration (the BPE-training posture). The model
    (B weights + bias) is collected per iteration — model-sized by
    definition. Labels: ``label_col`` is cast to int 0/1; a NULL label (or
    one the cast nulls out) raises — a NULL __y would silently drop the row
    from both gradient sums while n_docs still counted it, quietly training
    the model on a different effective dataset (r11 advice).

    Returns (weights DataFrame (bucket, weight) dense over 0..B-1, bias);
    with ``return_feats=True``, (weights, bias, feats) where feats is the
    CHECKPOINTED micro-unit feature frame (id, bucket, frac, __fm) this
    training ran on — hand it to ``score_hashed_classifier(feats=...)`` to
    score the same ``df`` without a second full-corpus featurize pass (the
    featurize is the single most expensive stage of the train+score
    recipe; r13)."""
    spark = df.sparkSession
    mu = 10**ndigits
    if feats is None:
        feats = stage(
            hashed_feature_fracs(df, text_col, id_col, num_buckets, seed, ndigits)
            .withColumn("__fm", F.round(F.col("frac") * mu).cast("long")),
            "classifier_feats",
        )
    # else: the caller supplies the micro-unit (id, bucket, frac, __fm)
    # frame for EXACTLY df's rows, built with the same
    # num_buckets/seed/ndigits — the featurize-once-filter-per-split hook
    # (r14): per-doc fracs are independent across documents, so filtering a
    # full-corpus feature frame to df's ids is identical to featurizing df.
    # The caller is responsible for it being checkpoint-backed (each GD
    # epoch replays it).
    labels = stage(
        df.select(F.col(id_col), F.col(label_col).cast("int").alias("__y")),
        "classifier_labels",
    )
    # one combined pass for the size + NULL-label guard (was two sequential
    # jobs over the checkpointed frame — r13 job-count audit)
    crow = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__y").isNull(), 1).otherwise(0)).alias("nn"),
    ).collect()[0]
    n_docs, n_null = crow["n"], crow["nn"] or 0
    if n_null:
        raise ValueError(
            f"train_hashed_classifier: {n_null}/{n_docs} rows have a NULL "
            f"label in {label_col!r} (or a value the int cast nulls out); "
            "a NULL label silently drops the row from the gradient sums "
            "while n_docs still counts it — coalesce the label to an "
            "explicit 0/1 upstream (e.g. F.when(cond, 1).otherwise(0))"
        )
    w = [0.0] * num_buckets
    bias = 0.0
    for _ in range(int(iterations)):
        wf = spark.createDataFrame(
            [(b, int(round(w[b] * mu))) for b in range(num_buckets)],
            "bucket int, __wm long",
        )
        z = feats.join(F.broadcast(wf), "bucket").groupBy(id_col).agg(
            (F.sum(F.col("__fm") * F.col("__wm")) / F.lit(float(mu * mu))).alias(
                "__z"
            )
        )
        scored = labels.join(z, id_col, "left").select(
            id_col,
            "__y",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.coalesce(F.col("__z"), F.lit(0.0)) + F.lit(bias)))
                )
                - F.col("__y"),
                ndigits,
            ).alias("__pmy"),
        )
        pmy = scored.select(
            id_col, F.round(F.col("__pmy") * mu).cast("long").alias("__pm")
        ).persist()
        # ONE collect per epoch for both gradients: the bucket gradient and
        # the bias gradient union into a single frame (bias rides synthetic
        # bucket -1 carrying the RAW sum(__pm) — unscaled, so the bias sum
        # keeps its full n_docs*mu long headroom; integer arithmetic,
        # bit-identical trajectory). Before r13 this was
        # two collects whose shared pmy lineage — the full feats-join +
        # id-keyed aggregate + label join, a corpus pass — was recomputed
        # per consumer (lineage reuse is not computation reuse; the r13
        # stage profile showed the two ~6 s aggregate stages per epoch
        # twice). persist() makes the first consumer compute pmy once;
        # unpersisted right after the collect so epochs don't accumulate
        # executor blocks.
        combined = (
            feats.join(pmy, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("__fm") * F.col("__pm")).alias("gm"))
            .unionByName(
                pmy.agg(
                    F.lit(-1).alias("bucket"), F.sum("__pm").alias("gm")
                )
            )
            .collect()
        )
        pmy.unpersist()
        gb = 0
        g = {}
        for r in combined:
            if r["bucket"] == -1:
                gb = r["gm"] or 0
            else:
                g[r["bucket"]] = r["gm"] / (mu * mu)
        w = [
            round(w[b] - lr * g.get(b, 0.0) / n_docs, ndigits)
            for b in range(num_buckets)
        ]
        bias = round(bias - lr * (gb / mu) / n_docs, ndigits)
    weights = spark.createDataFrame(
        [(b, w[b]) for b in range(num_buckets)], "bucket int, weight double"
    )
    if return_feats:
        return weights, bias, feats
    return weights, bias


def score_hashed_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    bias: float = 0.0,
    num_buckets: int = 1024,
    seed: int | str = "w",
    ndigits: int = 6,
    out_col: str = "clf_score",
    out_digits: int = 4,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Serve train_hashed_classifier's model with ITS quantization contract
    (micro-unit frac·weight sums → identical doubles on every engine) —
    score = σ(bias + Σ frac_b·w_b), rounded to ``out_digits``. Same plan
    shape as hashed_linear_score: broadcast B-row weights, explode+count
    features, one id-keyed aggregate. Zero-feature docs score σ(bias).

    ``feats``: the precomputed micro-unit frame from
    ``train_hashed_classifier(return_feats=True)`` — MUST have been built
    from the same df/num_buckets/seed/ndigits, in which case the scores
    are identical by construction and the second full-corpus featurize
    pass is skipped (r13)."""
    mu = 10**ndigits
    if feats is None:
        feats = hashed_feature_fracs(
            df, text_col, id_col, num_buckets, seed, ndigits
        ).withColumn("__fm", F.round(F.col("frac") * mu).cast("long"))
    wq = weights.select(
        "bucket", F.round(F.col("weight") * mu).cast("long").alias("__wm")
    )
    z = feats.join(F.broadcast(wq), "bucket").groupBy(id_col).agg(
        (F.sum(F.col("__fm") * F.col("__wm")) / F.lit(float(mu * mu))).alias("__z")
    )
    score = F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.coalesce(F.col("__z"), F.lit(0.0)) + F.lit(bias)))),
        out_digits,
    )
    return df.join(z, id_col, "left").select(
        *[F.col(c) for c in df.columns], score.alias(out_col)
    )


def evaluate_classifier_thresholds(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Held-out threshold-sweep evaluation for a trained scorer — the table
    the FineWeb-Edu recipe reads to CHOOSE its filter threshold (train on
    labeled exemplars, score a held-out set, pick the operating point):
    one row per threshold with the confusion counts and precision / recall
    / F1 at ``score >= threshold``.

    One corpus pass regardless of grid size: the threshold grid is a
    plan-embedded literal array exploded per row, and the confusion counts
    aggregate map-side per threshold (a |grid|-group shuffle — model-sized).
    Every ratio is computed from the INTEGER counts (F1 from the closed
    form 2·tp/(2·tp+fp+fn), never from the rounded precision/recall), so
    the table is oracle-exact under the same determinism contract as
    train_hashed_classifier: scores are 4-dp-rounded doubles on both
    engines, threshold literals are the same doubles, and integer-count
    ratios round identically. Undefined ratios (zero denominator) are NULL,
    not 0 — a grid point past every score should read as 'no operating
    point', not 'perfectly bad'.

    NULL labels / NULL scores / labels outside {0,1} raise (one validation
    pass first): every when(...).otherwise(0) branch evaluates NULL→0, so a
    bad row would silently vanish from ALL four confusion counts — the same
    different-effective-dataset failure the train-side NULL guard exists
    for (r12 advice). Eval frames are labeled held-out sets — model-
    selection-sized, so the extra pass is cheap by construction."""
    _validate_label_score(
        scored, label_col, score_col, "evaluate_classifier_thresholds"
    )
    grid = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    base = scored.select(
        F.col(label_col).alias("__y"), F.col(score_col).alias("__s"), grid
    )
    pred = F.col("__s") >= F.col("threshold")
    agg = base.groupBy("threshold").agg(
        F.sum(F.when(pred & (F.col("__y") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pred & (F.col("__y") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pred & (F.col("__y") == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~pred & (F.col("__y") == 0), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.when(tp + fp > 0, F.round(tp / (tp + fp), 6))
    rec = F.when(tp + fn > 0, F.round(tp / (tp + fn), 6))
    f1 = F.when(
        F.lit(2) * tp + fp + fn > 0,
        F.round(F.lit(2.0) * tp / (F.lit(2) * tp + fp + fn), 6),
    )
    return agg.select(
        "threshold", "tp", "fp", "fn", "tn",
        prec.alias("prec"), rec.alias("rec"), f1.alias("f1"),
    )


def _validate_label_score(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    caller: str,
    max_distinct_scores: int | None = None,
) -> None:
    """Shared eval-side input guard (r12 advice + verdict): one aggregation
    counting rows a when/otherwise confusion count would silently exclude
    (NULL label, label outside {0,1}, NULL score) — raise with the count
    instead of quietly evaluating a different effective dataset. When
    ``max_distinct_scores`` is set, the same pass approx-counts distinct
    scores and raises past the bound (classifier_auc's model-sized-window
    contract, self-enforced)."""
    bad = (
        F.col(label_col).isNull()
        | F.col(score_col).isNull()
        | ~F.col(label_col).isin(0, 1)
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_bad"),
    ]
    if max_distinct_scores is not None:
        aggs.append(F.approx_count_distinct(score_col).alias("nds"))
    row = scored.agg(*aggs).collect()[0]
    if row["n_bad"]:
        raise ValueError(
            f"{caller}: {row['n_bad']}/{row['n']} rows have a NULL label, "
            f"NULL score, or a {label_col!r} value outside {{0,1}} — these "
            "would silently drop out of every confusion/rank count; clean "
            "the frame upstream (e.g. F.when(cond, 1).otherwise(0) labels, "
            "rounded non-null scores)"
        )
    if max_distinct_scores is not None and row["nds"] > max_distinct_scores:
        raise ValueError(
            f"{caller}: ~{row['nds']} distinct values in {score_col!r} "
            f"exceed max_distinct_scores={max_distinct_scores}; the exact-"
            "AUC rank window runs single-partition over one row per "
            "DISTINCT score, which is only model-sized when scores are "
            "quantized (e.g. F.round(score, 4)) — round the scores or "
            "raise the bound deliberately"
        )


def classifier_auc(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    ndigits: int = 6,
    max_distinct_scores: int = 1_000_000,
) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney U with average-rank tie handling) for a
    scored frame — the threshold-free half of classifier evaluation
    (evaluate_classifier_thresholds gives the operating points; AUC ranks
    the scorer itself). AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻).

    Scale-sound rank computation: NO global row sort. Scores aggregate to
    one (score, n_pos, n_neg) row per DISTINCT score (one map-side-combined
    shuffle; distinct 4-dp sigmoid outputs are ≤ 10⁴-ish rows regardless of
    corpus size), the below-ties cumulative runs over that model-sized
    frame's window, and U folds in one aggregate:
    U = Σ_s n_pos(s)·(cum_neg_below(s) + ½·n_neg(s)). 2·U is an exact
    integer on any engine (order-free sums of integer counts), so the
    DuckDB oracle replays it exactly; AUC = U/(P·N) rounds once at the end.
    Empty classes → NULL AUC (undefined, not 0.5). Returns one row
    (auc, n_pos, n_neg).

    Input guard (r12 advice + verdict): NULL labels/scores and labels
    outside {0,1} raise rather than silently dropping out of the rank
    counts, and the single-partition rank window's model-sized contract is
    self-enforced — a caller passing raw unrounded doubles (distinct count
    → corpus-sized) raises at ``max_distinct_scores`` instead of silently
    degrading to a corpus-sized one-task sort. One validation aggregation
    (count + approx_count_distinct) up front pays for both."""
    from pyspark.sql import Window

    _validate_label_score(
        scored, label_col, score_col, "classifier_auc",
        max_distinct_scores=max_distinct_scores,
    )
    per_score = scored.groupBy(F.col(score_col).alias("__s")).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("__np"),
        F.sum(F.when(F.col(label_col) == 0, 1).otherwise(0)).alias("__nn"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    # __below2 = 2·(negatives strictly below this score) + ties at it, so
    # __u2 = Σ n_pos·__below2 = 2U stays an exact integer
    agg = per_score.select(
        F.col("__np"), F.col("__nn"),
        (
            F.lit(2) * F.coalesce(
                F.sum("__nn").over(w).cast("long"), F.lit(0).cast("long")
            )
            + F.col("__nn")
        ).alias("__below2"),
    ).agg(
        F.sum(F.col("__np") * F.col("__below2")).alias("__u2"),
        F.sum("__np").alias("n_pos"),
        F.sum("__nn").alias("n_neg"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            F.col("__u2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            ndigits,
        ),
    )
    return agg.select(auc.alias("auc"), "n_pos", "n_neg")


def classifier_pr_auc(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    ndigits: int = 6,
    max_distinct_scores: int = 1_000_000,
) -> DataFrame:
    """Exact average precision (PR-AUC) — the class-imbalance-honest twin
    of classifier_auc (ROC-AUC is blind to the positive rate; PR-AUC is
    the metric the quality-filter literature actually reports when
    positives are the rare curated class). Step-wise AP over distinct
    score thresholds (the sklearn average_precision_score definition):
    AP = Σ_k ΔR_k · P_k with each distinct score one threshold block,
    ΔR_k = np_k / P_total, P_k = cum_tp_k / cum_n_k in descending-score
    order.

    Same scale posture as classifier_auc: one map-side-combined aggregate
    to a (score, n_pos, n_neg) row per DISTINCT score (model-sized under
    the quantized-score contract, self-enforced by the same
    ``max_distinct_scores`` guard), then windows over that tiny frame.

    Determinism without integers: AP's per-block terms are rationals with
    varying denominators, so unlike 2U they can't be scaled to one exact
    integer — instead BOTH engines sum the identical IEEE doubles in the
    identical descending-score order (a running SUM window, not an
    unordered aggregate; terms are written `(np/P)·(cum_tp/cum_n)` so the
    division/multiply order matches the SQL mirror token-for-token), and
    the final AP is the running sum's last row — max() retrieves it
    because every term is ≥ 0. Empty positive class → NULL (undefined,
    not 0). Returns one row (pr_auc, n_pos, n_neg)."""
    from pyspark.sql import Window

    _validate_label_score(
        scored, label_col, score_col, "classifier_pr_auc",
        max_distinct_scores=max_distinct_scores,
    )
    per_score = scored.groupBy(F.col(score_col).alias("__s")).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("__np"),
        F.sum(F.when(F.col(label_col) == 0, 1).otherwise(0)).alias("__nn"),
    )
    w = Window.orderBy(F.desc("__s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_score.select(
        "__s", "__np",
        F.sum("__np").over(w).alias("__ctp"),
        F.sum(F.col("__np") + F.col("__nn")).over(w).alias("__cn"),
        F.sum("__np").over(tot).alias("__p"),
        F.sum("__nn").over(tot).alias("__n"),
    )
    # __cn ≥ 1 on every cumulative row, but __p = 0 when the frame has no
    # positives — guard so the (NULL-result) empty-class case doesn't trip
    # ANSI division; the SQL mirror needs no guard (its outer CASE already
    # yields NULL and its p>0 fixtures never divide by zero)
    term = F.when(
        F.col("__p") > 0,
        (F.col("__np").cast("double") / F.col("__p"))
        * (F.col("__ctp").cast("double") / F.col("__cn")),
    ).otherwise(F.lit(0.0))
    run = cum.select(
        "__p", "__n", F.sum(term).over(w).alias("__ap_run")
    )
    agg = run.agg(
        F.max("__ap_run").alias("__ap"),
        F.max("__p").alias("n_pos"),
        F.max("__n").alias("n_neg"),
    )
    ap = F.when(F.col("n_pos") > 0, F.round(F.col("__ap"), ndigits))
    return agg.select(ap.alias("pr_auc"), "n_pos", "n_neg")


def classifier_calibration(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    num_bins: int = 10,
    score_digits: int = 4,
    ndigits: int = 6,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic scorer — per score bin
    (floor(score·B), top edge clamped into the last bin): row count,
    positive count, mean predicted score, and empirical positive rate.
    The table a calibration check reads: a well-calibrated scorer has
    pos_rate ≈ mean_score per bin; the gap weighted by bin mass is ECE.

    One map-side-combined aggregate to B rows. Exactness contract: the
    bin mean of DOUBLE scores would be summation-order-dependent, so
    scores are scaled to integer units at ``score_digits`` (the serving
    path's own output quantization) and summed as integers — both engines
    divide the same exact integer by the same count once at the end.
    NULL/off-domain labels and NULL scores raise (the shared eval guard)."""
    _validate_label_score(
        scored, label_col, score_col, "classifier_calibration"
    )
    mu = 10**score_digits
    b = F.least(
        F.floor(F.col(score_col) * num_bins).cast("int"),
        F.lit(num_bins - 1),
    )
    agg = (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias(
                "n_pos"
            ),
            F.sum(
                F.round(F.col(score_col) * mu).cast("long")
            ).alias("__ssum"),
        )
    )
    return agg.select(
        "bin", "n", "n_pos",
        F.round(
            F.col("__ssum") / (F.col("n") * F.lit(float(mu))), ndigits
        ).alias("mean_score"),
        F.round(
            F.col("n_pos").cast("double") / F.col("n"), ndigits
        ).alias("pos_rate"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training primitives (Sennrich et al. 2016, arXiv:1508.07909)
# ---------------------------------------------------------------------------


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) — the compressed corpus representation BPE training
    iterates over: pair statistics are identical whether computed over the
    raw token stream or over the word table weighted by frequency, and the
    word table is vocabulary-sized (~10⁶ rows regardless of corpus size),
    which is what makes distributed BPE rounds cheap after this one
    corpus-wide aggregation."""
    return (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_pair_counts(
    word_freq: DataFrame,
    top_k: int | None = None,
    symbols_col: str | None = None,
) -> DataFrame:
    """Adjacent-symbol-pair frequencies — the argmax of one BPE merge round
    (Sennrich et al. 2016 §3.2: "count all symbol pairs and replace each
    occurrence of the most frequent pair").

    Input is the (word, freq) table (or one carrying an explicit
    ``symbols_col`` array from previous merge rounds); symbols start as the
    word's characters. Pair occurrences within a word count once per
    position (so 'aaa' contributes ('a','a') twice), weighted by the word's
    corpus frequency. Output: (left, right, pair_count) ranked by
    (pair_count desc, left asc, right asc).

    Scale: the explode runs over the VOCABULARY (not the corpus) and the
    aggregate is map-side combined on the pair key; the rank window sorts
    pair-vocab rows only. A full training loop alternates this with
    bpe_apply_merge, re-using the same word table — the corpus is touched
    exactly once, by word_frequency_table."""
    from pyspark.sql import Window

    syms = (
        F.col(symbols_col)
        if symbols_col
        else F.split(F.col("word"), "")
    )
    pairs = F.when(
        F.size(syms) < 2, F.array().cast("array<struct<l:string,r:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("l"),
                F.element_at(syms, i + 2).alias("r"),
            ),
        )
    )
    counted = (
        word_freq.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    ranked = counted.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
        ),
    )
    if top_k is not None:
        ranked = ranked.filter(F.col("rank") <= top_k)
    return ranked


def bpe_apply_merge(
    word_freq: DataFrame,
    left: str,
    right: str,
    symbols_col: str = "symbols",
) -> DataFrame:
    """Apply one BPE merge (left, right) → left+right to every word's
    symbol sequence — the other half of a training round. Words carry their
    symbols in ``symbols_col`` (created from characters on first call).
    Greedy left-to-right replacement, matching the reference BPE algorithm:
    'aaa' under merge (a,a) becomes ['aa','a'].

    Implemented as an aggregate fold over the symbol array (per-VOCAB-row
    HOF — interpreted, but the frame is vocabulary-sized; the corpus-scale
    cost lives entirely in word_frequency_table's one aggregation)."""
    has = symbols_col in word_freq.columns
    syms = F.col(symbols_col) if has else F.split(F.col("word"), "")
    merged = F.lit(left + right)
    folded = F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return word_freq.withColumn(symbols_col, folded)


def train_bpe(
    word_freq: DataFrame,
    n_merges: int,
    symbols_col: str = "symbols",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Full BPE training loop (Sennrich et al. 2016 §3.2: repeat n_merges
    times: count pairs, merge the most frequent): alternates
    bpe_pair_counts (argmax) with bpe_apply_merge over the SAME
    vocabulary frame. Returns (merges, vocab) where merges is the learned
    merge list [(left, right, pair_count), ...] in training order and
    vocab is the word table carrying the post-training symbol sequences.

    The loop is driver-side by design — each round moves exactly ONE row
    (the argmax pair) to the driver, and the per-round dataframe work is
    vocabulary-sized, not corpus-sized: the corpus is touched exactly once,
    by word_frequency_table, before this function is called. The vocab
    frame is eagerly localCheckpointed each round, which (a) keeps the
    fold expressions from nesting n_merges deep in one Catalyst plan
    (analysis cost grows superlinearly with nested HOF lambdas) and (b)
    caps lineage so round k plans against round k-1's materialized result.
    Each round releases the PREVIOUS round's checkpoint once the new one
    has materialized (only the final vocab stays resident — without the
    unpersist, checkpointed vocab blocks accumulate linearly in executor
    storage across n_merges rounds). Ties in the argmax break on
    (pair_count desc, left asc, right asc) — a total order, so training is
    deterministic (property-tested).

    Training stops early if no pair remains (every word fully merged)."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    vocab = word_freq
    if symbols_col not in vocab.columns:
        vocab = vocab.withColumn(symbols_col, F.split(F.col("word"), ""))
    vocab = stage(vocab, "bpe_vocab")
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = bpe_pair_counts(vocab, top_k=1, symbols_col=symbols_col).collect()
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((left, right, cnt))
        prev = vocab
        vocab = stage(bpe_apply_merge(vocab, left, right, symbols_col), "bpe_merge")
        _release_local_checkpoint(prev)
    return merges, vocab


def _release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD blocks behind a localCheckpointed DataFrame.

    ``DataFrame.unpersist()`` only uncaches CacheManager entries — a local
    checkpoint's blocks live on the RDD the LogicalRDD leaf wraps, so they
    must be released through that RDD handle (same reason the bench/scaling
    harnesses sweep ``getPersistentRDDs``). Best-effort: if the plan isn't
    the expected LogicalRDD shape (e.g. a future Spark changes the
    internals), leaking one vocab-sized block is preferable to failing
    training — but the fallback LOGS, so a Spark-internals shift that
    silently re-enables per-round block accumulation shows up in logs
    rather than only in executor storage graphs."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as e:  # noqa: BLE001
        import logging

        logging.getLogger(__name__).warning(
            "local-checkpoint release failed (%s: %s); the block will "
            "accumulate until session end — Spark internals may have "
            "changed shape", type(e).__name__, e,
        )


def bpe_train_merges(word_freq: DataFrame, n_merges: int) -> DataFrame:
    """train_bpe as a single-frame verb: the learned merge table
    (round, left, right, pair_count), round starting at 1 in training
    order — the artifact a tokenizer-training pipeline persists."""
    merges, _ = train_bpe(word_freq, n_merges)
    spark = word_freq.sparkSession
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        schema="round int, left string, right string, pair_count bigint",
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
    checkpoint_every: int = 8,
    broadcast_vocab: bool | None = None,
    broadcast_max_vocab: int = 500_000,
) -> DataFrame:
    """Tokenize a corpus with a TRAINED BPE merge list — the other half of
    the tokenizer lifecycle (train_bpe learns merges; this applies them to
    text, the step a training-data pipeline runs to count/budget tokens
    and emit model-ready sequences).

    ``broadcast_vocab`` decides whether the encoded word table broadcast-
    hints so the positioned-word stream joins map-side and the corpus
    NEVER shuffles on the word key — right whenever the vocabulary fits an
    executor broadcast (most natural-language corpora; Heaps' law keeps
    vocab growth sub-linear). Default ``None`` MEASURES: the checkpointed
    vocab scan carries no size statistics for AQE to act on, so the
    operator supplies the stat itself — one count() on the (already
    materialized) final vocab frame, broadcast iff it is at most
    ``broadcast_max_vocab`` rows (500k words ≈ low hundreds of MB of
    symbol arrays, comfortably inside an executor broadcast). Explicit
    True/False overrides the measurement either way — a vocab that does
    NOT fit must take the word-keyed shuffle join.

    Output: (id_col, tokens array<string>, n_tokens), one row per document
    with at least one word (empty/whitespace-only docs emit nothing, same
    contract as word_frequency_table's explode).

    Scale: merges apply to the corpus's DISTINCT-WORD table (vocabulary-
    sized), NOT per corpus token — each merge is one bpe_apply_merge greedy
    fold over the symbols array, with the vocab frame localCheckpointed
    every ``checkpoint_every`` merges (and the prior checkpoint released)
    so the HOF lambdas never nest unboundedly in one Catalyst plan — the
    train_bpe posture. The corpus itself is touched exactly twice: the
    distinct-word aggregate (map-side combined on the word key) and the
    positioned-word explode whose join back to the encoded vocab shuffles
    on the word key; one id-keyed aggregate then re-assembles each
    document's token stream in word order. Nothing is corpus × merges."""
    from .dedup import words

    vocab = stage(
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .distinct()
        .withColumn("symbols", F.split(F.col("word"), "")),
        "bpe_vocab",
    )
    ckpt, pending = vocab, 0
    for i, (left, right) in enumerate(merges, 1):
        vocab = bpe_apply_merge(vocab, left, right, "symbols")
        pending += 1
        if pending >= checkpoint_every or i == len(merges):
            vocab = stage(vocab, "bpe_merge")
            _release_local_checkpoint(ckpt)
            ckpt, pending = vocab, 0
    toks = df.select(
        F.col(id_col),
        F.posexplode(words(F.col(text_col))).alias("__pos", "word"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("__pos", "symbols"))),
        lambda s: s["symbols"],
    )
    if broadcast_vocab is None:
        # the checkpoint scan has no stats; one count on the materialized
        # frame is the stat — vocabulary-sized, not corpus-sized
        broadcast_vocab = vocab.count() <= broadcast_max_vocab
    right = F.broadcast(vocab) if broadcast_vocab else vocab
    return (
        toks.join(right, "word")
        .groupBy(id_col)
        .agg(F.flatten(ordered).alias("tokens"))
        .withColumn("n_tokens", F.size("tokens"))
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    ndigits: int = 4,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    every document with the self-unigram-LM fluency signal, then split
    each ``group_col`` partition (language, in CCNet) into len(labels)
    equal percentile slices — 'head' is the most-fluent slice a curation
    pipeline keeps outright, 'tail' gets re-filtered or dropped.

    Untokenizable documents (zero tokens) are excluded — they have no
    fluency to rank. The (score desc, id) window order is a total order,
    so bucketing is deterministic and oracle-replayable.

    Scale: unigram_logprob_score's token-keyed join + one group-keyed
    window — percentiles per group, never a global sort."""
    from pyspark.sql import Window

    scored = unigram_logprob_score(
        df.select(id_col, text_col), text_col, id_col, ndigits=ndigits
    ).filter(F.col("n_tokens") > 0)
    ranked = scored.join(df.select(id_col, group_col), id_col).withColumn(
        "__pr",
        F.percent_rank().over(
            Window.partitionBy(group_col).orderBy(
                F.col("unigram_logprob").desc(), F.col(id_col)
            )
        ),
    )
    n = len(labels)
    bucket = F.when(F.col("__pr") < 1.0 / n, labels[0])
    for k in range(2, n):
        bucket = bucket.when(F.col("__pr") < k * 1.0 / n, labels[k - 1])
    bucket = bucket.otherwise(labels[-1])
    return ranked.select(
        id_col, group_col, "unigram_logprob", bucket.alias("bucket")
    )


def url_domain_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    url_pattern: str = r"https?://[^\s]+",
    domain_pattern: str = r"https?://([^/\s]+)",
) -> DataFrame:
    """Per-domain URL telemetry — the (domain, n_docs, n_occurrences)
    aggregate a crawl-curation pipeline feeds its domain blocklist /
    allowlist decisions from (RefinedWeb §3.1 URL filtering operates on
    exactly this table). Patterns are RE2/Java-common, so the operator is
    oracle-replayable verbatim.

    Scale: one Generate (URL explode) + one aggregate keyed on the domain;
    COUNT(*) combines map-side and COUNT(DISTINCT id) expands to the
    standard two-phase partial aggregate — nothing wider than the domain
    key ever shuffles."""
    urls = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(url_pattern), 0)
        ).alias("url"),
    )
    hosts = urls.select(
        F.col(id_col),
        F.regexp_extract("url", domain_pattern, 1).alias("domain"),
    )
    return hosts.groupBy("domain").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
