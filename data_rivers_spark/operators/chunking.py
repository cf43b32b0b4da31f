"""Token-window document chunking — RAG / context-window preparation.

Splits each document into fixed-size token windows with a configurable
overlap, the standard pre-processing step for retrieval corpora and for
packing long documents into model context windows. No reference
counterpart (the reference pipeline ships whole records); this is part of
the LLM-training-data layer alongside operators/textstats.py.

Scale design: one Project + one Generate (posexplode over a computed
``sequence``) — no shuffle, no UDF, whole-stage codegen end to end. A
100 TB corpus chunks at scan speed and composes with any downstream
partitioning; the only data growth is the overlap fraction
(chunk/(chunk-overlap) ≈ 1.33x at 128/32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_rivers_spark.operators.dedup import words


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap_tokens: int = 32,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each doc into overlapping windows of ``chunk_tokens``
    whitespace tokens, stepping ``chunk_tokens - overlap_tokens`` tokens
    per chunk.

    Chunk ``i`` covers tokens ``[i*step, i*step + chunk_tokens)``;
    the number of chunks is ``1 + ceil((n - chunk) / step)`` (1 when the
    doc fits in a single window). Empty / whitespace-only docs emit no
    chunks — chunking blank text is meaningless and emitting it would
    poison downstream dedup with identical empty strings.

    Output: (id_col, chunk_idx, chunk_text, n_chunk_tokens). Tokenization
    is ``dedup.words`` (lowercased, regexp-trimmed) so chunk joins/dedups
    share the vocabulary of every other text operator.

    All integer math stays integral (``(n - chunk + step - 1) div step``)
    so the DuckDB oracle replays it hash-exactly.

    Deliberately NOT fanned out (r13 A/B): tokenize + slice is cheap
    enough per row that the round-robin exchange costs more than the
    parallelism buys (measured 0.60 s -> 0.85 s at sf0.1), and the
    zero-shuffle single-codegen-stage plan contract is part of this
    operator's scale design — unlike the regex-heavy sentence chunker,
    which keeps its fan_out on a measured win.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < chunk_tokens"
            f" ({chunk_tokens}) or the window never advances"
        )
    step = chunk_tokens - overlap_tokens
    toks = words(F.col(text_col))
    n = F.size(toks)
    extra = F.floor(
        (n - F.lit(chunk_tokens) + F.lit(step - 1)) / F.lit(step)
    ).cast("int")
    num_chunks = F.lit(1) + F.greatest(extra, F.lit(0))
    carry = list(carry_cols)
    # empty docs are dropped BEFORE building the index sequence:
    # sequence(0, num-1) with num=0 would be sequence(0, -1), which Spark
    # evaluates as the DESCENDING sequence [0, -1], not an empty array
    base = df.filter(F.size(toks) > 0).select(
        F.col(id_col),
        *carry,
        toks.alias("__toks"),
        F.sequence(F.lit(0), num_chunks - 1).alias("__idxs"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_idx") * step + 1, chunk_tokens
    )
    return (
        base.select(
            id_col, *carry, "__toks", F.explode("__idxs").alias("chunk_idx")
        )
        .select(
            id_col,
            *carry,
            "chunk_idx",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_chunk_tokens"),
        )
    )


def chunk_and_pack(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap_tokens: int = 32,
    pack_budget: int = 512,
    shard_col: str | None = None,
) -> DataFrame:
    """Chunk, then assign each chunk to the training sequence its first
    token lands in — concat-then-chunk packing with the SAME start-position
    binning as textstats.sequential_pack (seq = floor(start/budget) where
    start is the running token total before this chunk), within each
    id-hash shard so packing never needs a global sort.

    Output: (shard, seq_id, id_col, chunk_idx, n_chunk_tokens) — one
    window per shard, pure integer arithmetic, oracle-replayable.

    ``shard_col`` names an existing column to shard by (a natural
    language x source x date shard, or an md5 bucket when oracle replay
    matters); the default is a 16-way xxhash64 shard of the id.
    """
    from pyspark.sql import Window

    if shard_col is not None:
        # carried through the explode — never joined back (a join on the
        # id would re-shuffle the whole chunk set at scale)
        with_shard = chunk_documents(
            df, text_col, id_col, chunk_tokens, overlap_tokens,
            carry_cols=(shard_col,),
        ).withColumnRenamed(shard_col, "shard")
    else:
        chunks = chunk_documents(df, text_col, id_col, chunk_tokens, overlap_tokens)
        shard = (F.xxhash64(F.col(id_col)) % 16 + 16) % 16
        with_shard = chunks.withColumn("shard", shard.cast("int"))
    w = Window.partitionBy("shard").orderBy(F.col(id_col), F.col("chunk_idx"))
    start = F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens")
    return with_shard.select(
        "shard",
        F.floor(start / F.lit(pack_budget)).cast("long").alias("seq_id"),
        id_col,
        "chunk_idx",
        "n_chunk_tokens",
    )


SENTENCE_PATTERN = r"[^.!?]+[.!?]+\s*|[^.!?]+$"
"""Sentence segmentation regex, deliberately restricted to syntax that Java
(Spark) and RE2 (DuckDB) evaluate identically — no lookbehind, which RE2
lacks. Each match is a run of non-terminator characters plus its terminator
run and trailing whitespace; a final unterminated fragment matches via the
second alternative. Probed for parity across empty / whitespace-only /
unterminated / multi-space inputs.

Semantic limitation (a recorded contract, pinned by test): EVERY '.' run
terminates a sentence, so abbreviations and decimals split — 'U.S. Steel'
is two sentences ('U.', 'S. Steel…') and '3.14' splits after '3.'. This
is the deliberate trade for oracle-replayability and a single
whole-stage-codegen pass: exception-aware splitters need either a
curated abbreviation lexicon (a broadcast join this operator's caller can
compose via its own pre-tokenization) or lookbehind, which RE2 lacks.
Chunk boundaries only ever move a few tokens under over-splitting —
chunk_text still concatenates the ORIGINAL slices losslessly."""


_ABBREV_SENTINEL = "\x01"
ABBREV_WORDS = (
    "Mr", "Mrs", "Ms", "Dr", "Prof", "Sr", "Jr", "St", "vs", "etc",
    "Inc", "Ltd", "Corp", "Fig", "Vol", "et al",
)
"""Bounded, case-sensitive abbreviation lexicon for ``abbrev_aware``
sentence mode. Deliberately short and explicit: every entry is replayable
in the DuckDB oracle via the same alternation, and ambiguous entries
(words that commonly END sentences, like 'No'/'Co') are excluded — a
terminal 'etc.' still under-splits, which is the documented trade of any
lexicon splitter."""


def _mask_abbrev_periods(col):
    """Rewrite non-terminator periods to a sentinel (\\x01) so the
    RE2-safe SENTENCE_PATTERN stops splitting on them — look-around-free,
    so DuckDB replays it with the identical rules. Four ordered global
    rewrites, each expressible in both Java regex and RE2:

    1. decimals: ``3.14`` → ``3␁14``
    2. dotted-acronym pairs: ``U.S.`` / ``e.g.`` / ``a.m.`` → ``U␁S␁``
    3. acronym continuation: a ␁-preceded letter-dot extends the run, so
       ``U.S.A.`` masks fully (scan order means 4+-letter acronyms keep
       their final dot — bounded, documented)
    4. the ABBREV_WORDS lexicon: ``Dr.`` → ``Dr␁``

    The caller restores the sentinel to '.' per extracted sentence, so
    chunk_text stays verbatim. 'The sentinel never occurs in text' is NOT
    assumed: pre-existing \\x01 bytes (no legitimate place in a text
    corpus, but arbitrary corpora contain arbitrary bytes) are REMOVED
    before masking — otherwise the restore step would rewrite them to '.'
    and silently corrupt the verbatim round-trip. The removal is the
    documented abbrev-mode contract (naive mode passes them through) and
    is replayed identically in the DuckDB oracles via REPLACE(chr(1))."""
    s = _ABBREV_SENTINEL
    c = F.translate(col, s, "")
    c = F.regexp_replace(c, r"(\d)\.(\d)", "$1" + s + "$2")
    c = F.regexp_replace(c, r"([A-Za-z])\.([A-Za-z])\.", "$1" + s + "$2" + s)
    c = F.regexp_replace(c, s + r"([A-Za-z])\.", s + "$1" + s)
    return F.regexp_replace(
        c, r"\b(" + "|".join(ABBREV_WORDS) + r")\.", "$1" + s
    )


def chunk_by_sentences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    budget_tokens: int = 256,
    abbrev_aware: bool = False,
) -> DataFrame:
    """Sentence-boundary chunking: never split mid-sentence. Sentences are
    extracted with SENTENCE_PATTERN, each is assigned to the chunk its
    FIRST token lands in (the same start-position binning as
    textstats.sequential_pack), and chunks rejoin in document order — a
    sentence longer than the budget simply occupies its chunk alone
    (subsequent sentences start past the next budget boundary).

    ``abbrev_aware=True`` opts into lexicon-masked segmentation: periods
    belonging to decimals, dotted acronyms, and ABBREV_WORDS entries are
    masked to a sentinel before extraction and restored after, so
    'U.S. Steel' and '3.14' no longer split (the naive default's recorded
    contract — see SENTENCE_PATTERN — is unchanged). Pre-existing \\x01
    bytes in the input are removed first (see _mask_abbrev_periods) so the
    restore step cannot rewrite them to '.'. Same plan shape: the
    masking is three more regexp_replace expressions in the same
    whole-stage-codegen projection, still zero look-around so the DuckDB
    oracle replays it exactly.

    Output: (id_col, chunk_idx, chunk_text, n_sentences, n_tokens).
    Sentence boundaries and whitespace are preserved verbatim in
    chunk_text (concatenation of the original sentence slices), so
    un-chunking is lossless modulo the document's own text.

    Scale: one Generate (posexplode of the sentence array), one window +
    hash aggregate, both partitioned by the doc id — a single shuffle, no
    UDF, no all-pairs anything. NOT fanned out: r13 added a conditional
    fan_out here on an "≈ neutral" single-run A/B, but the r13 bench read
    it −12% and the r14 bench-protocol A/B (cold-JVM envelope of the
    one query, 3 attempts × 3 samples per arm) confirmed the
    regression — 1.79 s envelope / ~2.14 s mean without vs 1.93 / ~2.51
    with: the sentence regex is too cheap per row to pay for the exchange,
    the same verdict chunk_documents got in r13. Single-split inputs run
    the extraction in one task (documented in SCALING.md with
    chunk_documents); callers with pathological inputs can pre-repartition."""
    from pyspark.sql import Window

    src = F.col(text_col)
    if abbrev_aware:
        src = _mask_abbrev_periods(src)
    sent_expr = F.posexplode(
        F.regexp_extract_all(src, F.lit(SENTENCE_PATTERN), 0)
    ).alias("__pos", "__sent")
    if abbrev_aware:
        sents = df.select(F.col(id_col), sent_expr).select(
            id_col,
            "__pos",
            F.translate("__sent", _ABBREV_SENTINEL, ".").alias("__sent"),
        )
    else:
        sents = df.select(F.col(id_col), sent_expr)
    n_tok = F.size(words(F.col("__sent")))
    w = Window.partitionBy(id_col).orderBy("__pos")
    binned = sents.withColumn("__n_tok", n_tok).withColumn(
        "chunk_idx",
        F.floor(
            (F.sum("__n_tok").over(w) - F.col("__n_tok"))
            / F.lit(budget_tokens)
        ).cast("long"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("__pos", "__sent"))),
        lambda x: x["__sent"],
    )
    return binned.groupBy(id_col, "chunk_idx").agg(
        F.array_join(ordered, "").alias("chunk_text"),
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("__n_tok").alias("n_tokens"),
    )
