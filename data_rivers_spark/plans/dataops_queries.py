"""Driver-contract queries for the training-data pipeline operators
(dedup / similarity / text analysis) over the documents and embeddings tables.

The synthetic corpus has no natural duplicates (all 500 texts distinct), so
dedup fixtures plant duplicates inside the query (id+100000 copies), keeping
the oracle a pure function of the input tables.

Float protocol: cosine oracles cast DuckDB lists to DOUBLE[] — verified to
reproduce Spark's zip_with/aggregate double left-fold bit-for-bit; outputs
round to 4 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_rivers_spark.operators import dedup as D
from data_rivers_spark.operators import importance as IMP
from data_rivers_spark.operators import multimodal as M
from data_rivers_spark.operators import sampling as SA
from data_rivers_spark.operators import similarity as S
from data_rivers_spark.operators import textstats as TX
from data_rivers_spark.operators import transforms as TR
from data_rivers_spark.operators import validation as V
from data_rivers_spark.plans.pipelines import c4_clean
from data_rivers_spark.plans.registry import query
from data_rivers_spark.session import fan_out, load_tables, stage

_STOP_EN = "'the','a','of','and','to','in','is','it','that','for'"


@query(
    "q_exact_dedup",
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
    )
    SELECT MIN(doc_id) AS doc_id FROM aug GROUP BY text
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, hash-first grouping (keep lowest doc_id per text)."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    return D.exact_dedup(aug, "text", "doc_id").select("doc_id")


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                ELSE LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_ws,
           LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_bpe
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex."""
    t = load_tables(spark, sf_dir, ["documents"])
    return t["documents"].select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("n_ws"),
        TX.token_count_bpe(F.col("text")).alias("n_bpe"),
    )


@query(
    "q_quality_features",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, text,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
      FROM documents
    )
    SELECT doc_id,
           LEN(text) AS q_n_chars,
           LEN(ws) AS q_n_words,
           ROUND(CASE WHEN LEN(text) = 0 THEN 0
                 ELSE LEN(REGEXP_REPLACE(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) * 1.0 / LEN(text) END, 4)
             AS q_punct_ratio,
           ROUND(CASE WHEN LEN(ws) = 0 THEN 0
                 ELSE LEN(LIST_FILTER(ws, x -> x IN ({_STOP_EN}))) * 1.0 / LEN(ws) END, 4)
             AS q_stopword_ratio,
           ROUND(CASE WHEN LEN(ws) = 0 THEN 0
                 ELSE LIST_SUM(LIST_TRANSFORM(ws, x -> LEN(x))) * 1.0 / LEN(ws) END, 4)
             AS q_mean_word_len
    FROM w
    """,
)
def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punct / stopword / word-length signals."""
    t = load_tables(spark, sf_dir, ["documents"])
    out = TX.quality_features(t["documents"], "text")
    return out.select(
        "doc_id",
        "q_n_chars",
        "q_n_words",
        F.round("q_punct_ratio", 4).alias("q_punct_ratio"),
        F.round("q_stopword_ratio", 4).alias("q_stopword_ratio"),
        F.round("q_mean_word_len", 4).alias("q_mean_word_len"),
    )


@query(
    "q_detect_language",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
      FROM documents
    ), r AS (
      SELECT doc_id,
        CASE WHEN LEN(ws)=0 THEN 0 ELSE LEN(LIST_FILTER(ws, x -> x IN ('der','die','das','und','zu','in','ein','ist','von','mit')))*1.0/LEN(ws) END AS r_de,
        CASE WHEN LEN(ws)=0 THEN 0 ELSE LEN(LIST_FILTER(ws, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))*1.0/LEN(ws) END AS r_en,
        CASE WHEN LEN(ws)=0 THEN 0 ELSE LEN(LIST_FILTER(ws, x -> x IN ('el','la','de','y','que','en','un','es','por','los')))*1.0/LEN(ws) END AS r_es,
        CASE WHEN LEN(ws)=0 THEN 0 ELSE LEN(LIST_FILTER(ws, x -> x IN ('le','la','de','et','que','en','un','est','pour','les')))*1.0/LEN(ws) END AS r_fr
      FROM w
    )
    SELECT doc_id,
           CASE WHEN GREATEST(r_de, r_en, r_es, r_fr) = 0 THEN 'und'
                WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
                WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
                WHEN r_es >= r_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM r
    """,
)
def q_detect_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword-hit argmax, alphabetic tie-break)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return TX.detect_language(t["documents"], "text").select("doc_id", "lang_pred")


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             LIST_DISTINCT(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(LEN(LIST_INTERSECT(a.ws, b.ws)) * 1.0 /
                 LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))), 4) AS jaccard
    FROM w a JOIN w b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE ROUND(LEN(LIST_INTERSECT(a.ws, b.ws)) * 1.0 /
                LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))), 4) >= 0.8
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs word-set Jaccard ≥ 0.8 within language blocks."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].filter(F.trim(F.col("text")) != "")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", ["lang"], 0.8)


@query(
    "q_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20
    ), pairs AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             LIST_COSINE_SIMILARITY(qe, e.embedding::DOUBLE[]) AS sim
      FROM q, embeddings e WHERE e.vec_id != query_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= 5
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    out = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", 5)
    return out.select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


@query(
    "q_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
    FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (label-blocked, threshold 0.3)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    return S.embedding_near_dup_pairs(t["embeddings"], "embedding", "vec_id", 0.3, "label")


@query(
    "q_embedding_cc_dedup",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 4) >= 0.3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id
    )
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE c <> id)
    """,
)
def q_embedding_cc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space cluster collapse: exact cosine near-dup pairs →
    connected components → keep one representative (min vec_id) per
    cluster — the semantic-dedup move over an embedding column (a chain
    a~b~c collapses to one survivor even when a and c never pair
    directly). Oracled by the same recursive-CTE closure as
    q_minhash_cc_dedup, over the exactly-SQL-expressible cosine pair set.
    Scale: pairs come from the label-blocked exact join (bounded blocks);
    CC is iterative min-label propagation with per-round checkpoints."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    pairs = S.embedding_near_dup_pairs(emb, "embedding", "vec_id", 0.3, "label")
    return D.dedup_by_components(
        emb, pairs.select("id_a", "id_b"), "vec_id"
    ).select("vec_id")


def _twin_corpus(emb):
    """Deterministic high-sim near-dup fixture: every vector gets a twin
    (id+100000) shifted by +0.05 per coordinate. Measured on the embeddings
    fixture: planted pair sims all >= 0.9166, every natural pair <= 0.6031 —
    a wide two-sided margin around the 0.75 threshold, so the sign-LSH
    candidate stage (whose recall is probabilistic near the threshold) is
    exercised in its design regime. The natural fixture pairs hug 0.30
    (min-above 0.3012 / max-below 0.2998), which is exactly where sign-LSH
    cannot both prune and recall — that regime stays on the exact
    label-blocked verifier (q_embedding_neardup/q_embedding_cc_dedup)."""
    twins = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.05)
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(twins)


_TWIN_SQL = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    tw AS (SELECT vec_id + 100000 AS vec_id, LIST_TRANSFORM(v, x -> x + 0.05) AS v
           FROM e),
    allv AS (SELECT * FROM e UNION ALL SELECT * FROM tw)
"""


@query(
    "q_embedding_lsh_neardup",
    oracle=f"""
    WITH {_TWIN_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) AS sim
    FROM allv a JOIN allv b ON a.vec_id < b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) >= 0.75
    """,
)
def q_embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for unblocked embedding near-dup (round-5): sign-LSH
    bucket candidates (16 tables x 6 planes, equi self-join on the
    (table, bucket) key — never a cartesian) verified with the exact
    cosine, against the exact all-pairs oracle on the planted-twin corpus.
    Recall at the planted sims (>= 0.9166) is 1 - (1-p^6)^16 with p ~ .869
    (miss ~ 7.6e-5 per pair) and the planes are seeded, so the match is
    deterministic; verified missed=0 at all three SFs."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    return S.embedding_near_dup_pairs_lsh(
        _twin_corpus(t["embeddings"]), "embedding", "vec_id", 0.75
    )


@query(
    "q_embedding_lsh_cc_dedup",
    oracle=f"""
    WITH RECURSIVE {_TWIN_SQL},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) >= 0.75
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.id, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src
    ), comp AS (
      SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id
    )
    SELECT vec_id FROM allv
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE c <> id)
    """,
)
def q_embedding_lsh_cc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end on the BUCKETED pair path: LSH-verified
    near-dup pairs (see q_embedding_lsh_neardup) → pointer-doubling
    connected components → keep min-id survivor per cluster. This is the
    shape an unblocked 1B-row semantic dedup runs: no stage is all-pairs
    (candidates are (table, bucket) equi-joins; CC shuffles on component
    labels), oracled by the same recursive-CTE closure as
    q_embedding_cc_dedup."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    corpus = _twin_corpus(t["embeddings"])
    pairs = S.embedding_near_dup_pairs_lsh(corpus, "embedding", "vec_id", 0.75)
    return D.dedup_by_components(
        corpus, pairs.select("id_a", "id_b"), "vec_id"
    ).select("vec_id")


# --- non-SQL-expressible sketch operators: rows-only driver check + unit tests


@query(
    "q_minhash_lsh_dedup",
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, REGEXP_REPLACE(text, '^\\S+\\s*', '')
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM aug WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), w AS (
      SELECT doc_id, LIST_DISTINCT(LIST(gram)) AS gs FROM (
        SELECT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS gram
        FROM (SELECT doc_id, ws,
                     UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1))) AS i
              FROM toks)
      ) GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM w a JOIN w b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.gs, b.gs)) * 1.0 /
            LEN(LIST_DISTINCT(LIST_CONCAT(a.gs, b.gs))) >= 0.7
    )
    SELECT doc_id FROM aug WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    """,
)
def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup dedup with planted duplicates: base corpus plus
    word-dropped copies (doc_id+100000); survivors must drop the copies (and
    the corpus's natural near-identical pairs).

    Oracle = EXACT all-pairs 3-gram shingle Jaccard ≥ 0.7 with greedy min-id
    drop (drop any id that is the greater side of a qualifying pair) — the
    same measure the MinHash signatures approximate and the verify step
    checks. Banding here is 16 bands of 2 rows (not the 8×4 default): this
    fixture's planted short-doc copies land as low as J=0.8, where 8×4
    recall is only ~0.999 per pair — a deterministic-luck match across the
    ~13 pairs in [0.8, 0.9). With r=2 the per-pair miss is (1-J²)^16 ≤
    2.1e-5 for any J ≥ 0.7, so recall of EVERY over-threshold pair is a
    designed property, not a measurement; same measured runtime (false
    candidates cost verification work, never correctness). Token-less docs
    can never enter an LSH bucket (no shingles), so the oracle likewise
    excludes REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g')='' rows."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    # planted near-dups: drop the first word of every 5th doc
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    aug = docs.unionByName(copies)
    # bands=None (r12): the banding is PLANNER-DERIVED at run time —
    # lsh_plan(0.7, 32) returns the 16×2 split this query always used (the
    # docstring's recall math is the planner's own S-curve analysis), so
    # the oracle's exact all-pairs replay certifies the derived config
    return D.minhash_lsh_dedup(
        aug, "text", "doc_id", threshold=0.7, num_hashes=32, bands=None
    ).select("doc_id")


@query(
    "q_simhash_pairs",
    oracle="""
    SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 'planted' AS kind
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT -1, -1, 'extras_within_bound'
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs, oracled via planted-pair recall + extras bound.

    The raw pair set is a function of the 64-bit FNV-1a token hashes, so an
    exact-SQL oracle of *all* pairs would have to be the implementation.
    What IS hash-independent is SimHash's invariance: the signature depends
    only on the lowercased token multiset, so a copy that is uppercased,
    word-reversed, and re-whitespaced has hamming distance exactly 0 and
    MUST be emitted (verified 100% at sf0.001/0.01/0.1). The query output is
    therefore (a) the planted pairs the operator found — the oracle emits
    the full planted list, so any recall miss is a row-count FAIL — and (b)
    one sentinel row asserting the non-planted extras stay under 20% of the
    corpus size (blocking-join sanity: near-pair volume must not go
    quadratic). The full pair surface stays pinned by
    tests/test_dataops.py::test_simhash_close_and_far."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn(
            "text",
            F.array_join(F.reverse(F.split(F.upper(F.col("text")), r"\s+")), "  "),
        )
    )
    sigs = D.simhash_column(docs.unionByName(copies), "text")
    # one simhash pass feeds both output branches (planted rows + sentinel)
    pairs = stage(D.simhash_near_pairs(sigs, "doc_id", max_hamming=3), "simhash_pairs")
    is_planted = (F.col("id_b") == F.col("id_a") + 100000) & (F.col("id_a") % 7 == 0)
    planted = pairs.filter(is_planted).select(
        "id_a", "id_b", F.lit("planted").alias("kind")
    )
    sentinel = (
        pairs.filter(~is_planted)
        .select(F.count(F.lit(1)).alias("n_extras"))
        .crossJoin(docs.select(F.count(F.lit(1)).alias("n_docs")))
        .select(
            F.lit(-1).cast("long").alias("id_a"),
            F.lit(-1).cast("long").alias("id_b"),
            F.when(
                F.col("n_extras") * 5 <= F.col("n_docs"),
                F.lit("extras_within_bound"),
            )
            .otherwise(F.concat(F.lit("extras_overflow:"), F.col("n_extras")))
            .alias("kind"),
        )
    )
    return planted.unionByName(sentinel)


@query(
    "q_signlsh_topk",
    oracle="""
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim
    FROM embeddings WHERE vec_id < 20
    """,
)
def q_signlsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-k, oracled via planted-copy recall.

    The approximate result set is a function of the random-hyperplane bucket
    assignment, so an exact-SQL oracle of the full top-k would re-derive the
    buckets. The hash-independent invariant: an EXACT copy of a query vector
    produces identical hyperplane signs, lands in the query's own bucket for
    any plane set, and scores cosine 1.0 — the maximum — so it cannot be
    evicted from top-k. Planting vec_id+100000 copies of all 20 query
    vectors into the corpus makes recall fully deterministic: the output
    (filtered to planted neighbors) must be exactly the 20 (query, copy,
    1.0) rows. The full ANN pipeline still executes (bucketing, multiprobe,
    per-bucket ranking over the whole corpus) before the filter; broader
    recall vs exact q_cosine_topk stays pinned in tests/test_dataops.py."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 20)
    corpus = emb.unionByName(q.withColumn("vec_id", F.col("vec_id") + 100000))
    out = S.signlsh_topk(corpus, q, "embedding", "vec_id", 5, num_planes=4)
    return (
        out.filter(F.col("neighbor_id") == F.col("query_id") + 100000)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


@query(
    "q_ivf_topk",
    oracle="""
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim
    FROM embeddings WHERE vec_id < 20
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (trained coarse quantizer) approximate top-k, oracled via the
    same planted-copy recall construction as q_signlsh_topk: an EXACT copy
    of a query vector is assigned to the centroid nearest the query vector
    itself — necessarily the query's FIRST probe (argmin over the same
    centroid set) — and scores cosine 1.0, the maximum, so it cannot be
    evicted from top-k regardless of how the deterministic Lloyd training
    (similarity.py train_ivf_centroids: lowest-id seeding, no RNG) shaped
    the centroids. The full IVF pipeline executes (train, assign inverted
    lists, nprobe probe join, exact rerank) before the planted filter;
    broader recall vs exact cosine stays pinned in tests."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 20)
    corpus = emb.unionByName(q.withColumn("vec_id", F.col("vec_id") + 100000))
    out = S.ivf_topk(corpus, q, "embedding", "vec_id", 5, n_centroids=16, nprobe=4)
    return (
        out.filter(F.col("neighbor_id") == F.col("query_id") + 100000)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


@query(
    "q_fingerprint",
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, '  ' || UPPER(REPLACE(text, ' ', '  ')) || ' '
      FROM documents WHERE doc_id % 4 = 0
    ), norm AS (
      SELECT doc_id, REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g') AS k
      FROM aug
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY k) AS rep_id,
           COUNT(*) OVER (PARTITION BY k) AS n_dups
    FROM norm
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 document fingerprints grouped into duplicate clusters.

    The raw 64-bit hash values are engine-specific, so the oracle instead
    pins the EQUALITY RELATION the fingerprint induces: planted copies
    (case-flipped, whitespace-doubled, space-padded) must land in their
    base document's fingerprint group. DuckDB groups by the normalized text
    itself — identical cluster structure unless xxhash64 collides
    (P ≈ 1e-13 at this scale, and deterministic for fixed data)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn(
            "text",
            F.concat(F.lit("  "), F.upper(F.regexp_replace(F.col("text"), " ", "  ")), F.lit(" ")),
        )
    )
    fp = TX.fingerprint(docs.unionByName(copies), "text")
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id",
        F.min("doc_id").over(w).alias("rep_id"),
        F.count(F.lit(1)).over(w).alias("n_dups"),
    )


@query(
    "q_minhash_cc_dedup",
    oracle="""
    WITH RECURSIVE aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, REGEXP_REPLACE(text, '^\\S+\\s*', '')
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM aug WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), grams AS (
      -- blocked candidate generation (r8->r9): the old form joined every
      -- doc pair and LIST_INTERSECTed their shingle lists — O(n²) pairs,
      -- which certified at sf0.01 but blew the 240s oracle budget at
      -- sf0.1. Only pairs SHARING a shingle can have J > 0, so the
      -- inverted-index join below visits O(sum df(gram)²) rows instead,
      -- and COUNT(*) per pair IS the intersection size — still EXACT.
      SELECT DISTINCT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1))) AS i
            FROM toks)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT g1.doc_id AS id_a, g2.doc_id AS id_b, COUNT(*) AS c
      FROM grams g1 JOIN grams g2 USING (gram)
      WHERE g1.doc_id < g2.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = inter.id_a
      JOIN sizes sb ON sb.doc_id = inter.id_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT doc_id FROM aug
    WHERE doc_id NOT IN (SELECT id FROM reach GROUP BY id HAVING MIN(r) < id)
    """,
)
def q_minhash_cc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup dedup with EXACT transitive closure: LSH
    candidates → Jaccard verify → connected components → keep the min-id
    representative per cluster (vs the greedy single-pass q_minhash_lsh_dedup).

    Oracle = exact 3-gram shingle Jaccard pairs (inverted-index blocked
    candidate generation — only pairs sharing a shingle are scored, with
    the shared-gram count as the intersection size, so O(Σ df²) instead
    of the O(n²) all-pairs join that blew the sf0.1 oracle budget) +
    recursive-CTE transitive closure (drop every id that can reach a
    smaller id). Still exact: J ≥ 0.7 > 0 requires a shared shingle.
    Matches the Spark side as long as LSH recall is 100% on the
    qualifying pairs — see q_minhash_lsh_dedup's docstring for the
    recall argument."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    aug = docs.unionByName(copies)
    verified = D.minhash_lsh_verified_pairs(
        aug, "text", "doc_id", 0.7, num_hashes=32, bands=None
    )
    return D.dedup_by_components(aug, verified, "doc_id").select("doc_id")


@query(
    "q_normalize_text",
    oracle="""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(LOWER(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
               '[0-9]', '0', 'g'),
             '\\s+', ' ', 'g')) AS norm
    FROM documents
    """,
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization: lowercase, control-char strip, digit
    masking, whitespace collapse."""
    t = load_tables(spark, sf_dir, ["documents"])
    out = TX.normalize_text(
        t["documents"], "text", out_col="norm", mask_digits=True
    )
    return out.select("doc_id", "norm")


@query(
    "q_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), grams AS (
      SELECT doc_id, ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 4, 1))) AS i
            FROM toks)
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
    ), hits AS (
      SELECT g.doc_id, COUNT(*) AS contam_hits
      FROM grams g JOIN bench b ON g.gram = b.gram GROUP BY g.doc_id
    )
    SELECT d.doc_id, COALESCE(h.contam_hits, 0) AS contam_hits,
           COALESCE(h.contam_hits, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 10th document plays the benchmark set;
    docs sharing any 5-gram shingle with it are flagged (with occurrence
    counts). The Spark side joins on xxhash64(shingle) — the oracle joins on
    the shingle strings themselves, pinning the same overlap relation."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = TX.flag_contaminated(docs, bench, "text", "doc_id")
    return out.select("doc_id", "contam_hits", "contaminated")


@query(
    "q_tfidf_top_terms",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS term
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term
    ), idf AS (
      SELECT term, LN((SELECT COUNT(*) FROM documents) * 1.0 / COUNT(DISTINCT doc_id)) AS idf
      FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, ROUND(tf.tf * idf.idf, 4) AS tfidf
      FROM tf JOIN idf ON tf.term = idf.term
    )
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (keyword extraction)."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].filter(F.trim(F.col("text")) != "")
    # N in idf counts ALL documents (matching the oracle's subquery)
    out = TX.tf_idf_top_terms(
        docs, "text", "doc_id", k=3
    )
    return out


@query(
    "q_media_stats",
    oracle="""
    SELECT lang AS media_type, COUNT(*) AS n,
           CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY lang
    """,
)
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal byte-size profile (operators/multimodal.media_stats) over a
    binary column synthesized from document text — the cheap native profile
    that precedes any decode fan-out."""
    t = load_tables(spark, sf_dir, ["documents"])
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.col("lang").alias("media_type"),
    )
    return M.media_stats(media)


@query(
    "q_media_phash_dedup",
    oracle="""
    SELECT doc_id AS original_id, TRUE AS copy_dropped
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image/media near-dup dedup via perceptual hash + Manku-blocked
    hamming pairs (operators/multimodal.media_dedup), over a binary column
    synthesized from document bytes with planted exact-duplicate copies
    (doc_id%7 → +100000, same content). Oracled via planted-copy recall,
    the hash-independent construction shared with q_signlsh_topk: equal
    bytes give equal pHash under ANY decoder, hamming 0 is always blocked
    (pigeonhole), so every planted copy MUST drop — regardless of which
    hash-adjacent NATURAL pairs the perceptual measure also merges (a
    perceptual hash is free to consider two different byte strings the
    same image; pinning the full survivor set to byte equality would make
    the oracle fail exactly when the operator does its job). The full
    pipeline executes — mapInPandas DCT pHash, combination-blocked hamming
    join, greedy min-id drop — before the planted filter."""
    t = load_tables(spark, sf_dir, ["documents"])
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("image").alias("media_type"),
    )
    copies = (
        media.filter(F.col("media_id") % 7 == 0)
        .withColumn("media_id", F.col("media_id") + 100000)
    )
    aug = media.unionByName(copies)
    survivors = M.media_dedup(aug, max_hamming=3).select("media_id")
    planted = media.filter(F.col("media_id") % 7 == 0).select(
        F.col("media_id").alias("original_id")
    )
    return planted.join(
        survivors.withColumnRenamed("media_id", "__surv"),
        F.col("original_id") + 100000 == F.col("__surv"),
        "left_anti",
    ).select("original_id", F.lit(True).alias("copy_dropped"))


@query(
    "q_corpus_prep",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
               LOWER(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'), '[0-9]', '0', 'g'),
               '\\s+', ' ', 'g')) AS norm
      FROM documents
    ), w AS (
      SELECT doc_id, norm,
             CASE WHEN TRIM(norm) = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(TRIM(norm), '\\s+') END AS ws
      FROM norm
    ), q AS (
      SELECT doc_id, norm, ws, LEN(ws) AS n_words,
             CASE WHEN LEN(norm) = 0 THEN 0
                  ELSE LEN(REGEXP_REPLACE(norm, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / LEN(norm)
             END AS punct_ratio
      FROM w
    ), filt AS (
      SELECT * FROM q WHERE n_words >= 5 AND punct_ratio <= 0.25
    ), r AS (
      SELECT doc_id, norm, ws, n_words,
        LEN(LIST_FILTER(ws, x -> x IN ('der','die','das','und','zu','in','ein','ist','von','mit')))*1.0/LEN(ws) AS r_de,
        LEN(LIST_FILTER(ws, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))*1.0/LEN(ws) AS r_en,
        LEN(LIST_FILTER(ws, x -> x IN ('el','la','de','y','que','en','un','es','por','los')))*1.0/LEN(ws) AS r_es,
        LEN(LIST_FILTER(ws, x -> x IN ('le','la','de','et','que','en','un','est','pour','les')))*1.0/LEN(ws) AS r_fr
      FROM filt
    ), lang AS (
      SELECT doc_id, norm, ws, n_words,
             CASE WHEN GREATEST(r_de, r_en, r_es, r_fr) = 0 THEN 'und'
                  WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
                  WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
                  WHEN r_es >= r_fr THEN 'es'
                  ELSE 'fr' END AS lang_pred
      FROM r
    ), kept AS (
      SELECT * FROM lang WHERE lang_pred != 'und'
    ), ded AS (
      SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY norm
    ), kept2 AS (
      SELECT k.* FROM kept k JOIN ded USING (doc_id)
    ), grams AS (
      SELECT doc_id, ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 4, 1))) AS i
            FROM kept2)
    ), bench AS (
      SELECT DISTINCT ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
      FROM (SELECT ws, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 4, 1))) AS i
            FROM w WHERE doc_id % 10 = 0 AND LEN(ws) > 0)
    ), contaminated AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
    )
    SELECT doc_id, lang_pred, n_words AS n_tokens
    FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus preparation pipeline — every stage is an
    individually-oracled operator, composed end-to-end the way a real corpus
    job runs them: normalize (lowercase/control-strip/digit-mask/ws-collapse)
    → quality gate (≥5 words, punct ratio ≤ 0.25) → heuristic language-ID
    (drop 'und') → exact dedup on normalized text (keep min doc_id) →
    benchmark decontamination (5-gram overlap vs the doc_id%10==0 eval slice).

    One shuffle per aggregation stage, language scoring and quality signals
    are pure expressions on the already-normalized column, the benchmark
    shingle side is broadcast — the composition adds no operator-level cost
    beyond its stages."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    norm = TX.normalize_text(docs, "text", out_col="norm", mask_digits=True).drop("text")
    # all per-row derivations run UNCONDITIONALLY and the frame is
    # checkpointed once BEFORE any filter (r13): the quality filter's
    # predicate embeds the normalize chain, and Catalyst pushed it below
    # fan_out's exchange — the stage profile measured the whole chain
    # re-evaluated per row on the ONE-TASK scan side (a 4.4 s single-task
    # stage) and then again at full width above, with the dedup aggregation
    # and semi-join left side re-running the lineage twice more. Per-row
    # filters commute with per-row columns, so filtering AFTER the
    # checkpoint is result-identical; the chain now evaluates exactly once,
    # at full width. (The bench slice stays on the raw norm lineage by
    # design — it samples BEFORE the quality gate, and its doc_id%10
    # filter pushes to the scan, ~1/10 of a pass.)
    q = TX.quality_features(norm, "norm")
    lang = stage(TX.detect_language(q, "norm"), "quality_lang")
    keep_rows = lang.filter(
        (F.col("q_n_words") >= 5)
        & (F.col("q_punct_ratio") <= 0.25)
        & (F.col("lang_pred") != "und")
    )
    keep = keep_rows.join(
        keep_rows.groupBy("norm").agg(F.min("doc_id").alias("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    bench = norm.filter((F.col("doc_id") % 10 == 0) & (F.trim(F.col("norm")) != ""))
    flagged = TX.flag_contaminated(keep, bench, "norm", "doc_id", shingle_n=5)
    return (
        flagged.filter(~F.col("contaminated"))
        .select("doc_id", "lang_pred", F.col("q_n_words").alias("n_tokens"))
    )


# --- corpus curation: deterministic sampling / splitting / trimming / packing

_TOK_WS_SQL = (
    "CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 "
    "ELSE LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END"
)


@query(
    "q_deterministic_sample",
    oracle="""
    SELECT doc_id FROM documents
    WHERE SUBSTR(MD5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling at 20% (seed 42): a pure per-row filter that is
    reproducible across runs, engines, and repartitioning — unlike df.sample,
    whose per-partition RNG reshuffles every draw when the input layout
    changes. The oracle reproduces the exact same md5-prefix decision."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.deterministic_sample(t["documents"], "doc_id", 0.2, seed=42).select("doc_id")


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE SUBSTR(MD5('7:' || CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE WHEN lang = 'en' THEN '19999999'
               WHEN lang = 'de' THEN '80000000'
               ELSE '40000000' END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus remixing by per-stratum rates: downsample dominant English to
    10%, upweight German to 50%, default 25% — the language-rebalancing step
    of multilingual corpus curation, as a shuffle-free per-row filter."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.stratified_sample(
        t["documents"], "doc_id", "lang", {"en": 0.1, "de": 0.5}, seed=7,
        default_fraction=0.25,
    ).select("doc_id", "lang")


@query(
    "q_weighted_sample",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE CAST(CONCAT('0x', SUBSTR(MD5('11:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)
        < CAST(FLOOR((1 - EXP(-0.002 * n_chars)) * 4294967296.0) AS BIGINT)
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (Poisson) sampling: inclusion probability
    1 - exp(-0.002 * n_chars), so longer documents are kept proportionally
    more often — the quality/length-weighted corpus-mixing draw, still a pure
    per-row filter (no shuffle, no RNG state). The oracle replays the exact
    integer-threshold decision: both engines floor the per-row threshold into
    the 2^32 hash space and compare integers, so exp() ulp noise cannot flip
    a row (see sampling.weighted_sample)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.weighted_sample(t["documents"], "doc_id", "n_chars", 0.002, seed=11).select(
        "doc_id", "n_chars"
    )


@query(
    "q_weighted_topk_sample",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    ORDER BY LN((CAST(CONCAT('0x', SUBSTR(MD5('13:' || CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 0.5) / 4294967296.0) / n_chars DESC,
             doc_id
    LIMIT 50
    """,
)
def q_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): the 50 largest ln(u)/weight ranks win, u drawn from the content
    hash. Spark compiles the orderBy+limit to TakeOrderedAndProject (per-
    partition heap + k-row merge, not a global sort). Rank parity across
    engines: both order by the same double expression; a flip would need two
    distinct hashes within one ulp of each other (~2^-52 relative — ruled out
    by the 2^-32-granular hash lattice), and ulp-equal ranks tiebreak on
    doc_id identically."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.weighted_topk_sample(
        t["documents"], "doc_id", "n_chars", 50, seed=13
    ).select("doc_id", "n_chars")


@query(
    "q_train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '19999999'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 90/10 split: assignment is a content hash, so a document
    can never migrate between train and eval across reruns."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.train_test_split(t["documents"], "doc_id", 0.1, seed="split").select(
        "doc_id", "split"
    )


@query(
    "q_cluster_safe_split",
    oracle="""
    WITH RECURSIVE aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, REGEXP_REPLACE(text, '^\\S+\\s*', '')
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM aug WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), grams AS (
      -- same blocked inverted-index candidate generation as
      -- q_minhash_cc_dedup: only gram-sharing pairs can have J > 0
      SELECT DISTINCT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1))) AS i
            FROM toks)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT g1.doc_id AS id_a, g2.doc_id AS id_b, COUNT(*) AS c
      FROM grams g1 JOIN grams g2 USING (gram)
      WHERE g1.doc_id < g2.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = inter.id_a
      JOIN sizes sb ON sb.doc_id = inter.id_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, MIN(r) AS min_reach FROM reach GROUP BY id
    )
    SELECT a.doc_id,
           CASE WHEN SUBSTR(MD5('split:' || CAST(
                       LEAST(a.doc_id, COALESCE(c.min_reach, a.doc_id))
                     AS VARCHAR)), 1, 8) < '19999999'
                THEN 'test' ELSE 'train' END AS split
    FROM aug a LEFT JOIN comp c ON c.id = a.doc_id
    """,
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware 90/10 split on the planted-copy corpus (20%
    of docs get a prefix-clipped twin at doc_id+100000, word-shingle
    J >= ~0.9): every connected near-dup component lands entirely on one
    side, so a test doc's paraphrase can't leak into train — the failure
    mode row-level q_train_test_split can't prevent.

    Spark side = sampling.cluster_safe_split (MinHash-LSH verified pairs →
    exact connected components → md5 split keyed on the component's min id;
    singletons key on their own id). Oracle = the q_minhash_cc_dedup
    blocked-Jaccard pair closure, with the same md5 decision applied to
    LEAST(doc_id, min reachable id). Matches iff LSH recall is 100% on
    J >= 0.7 pairs — the same recall argument as q_minhash_lsh_dedup."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    aug = docs.unionByName(copies)
    return SA.cluster_safe_split(
        aug, "text", "doc_id", test_fraction=0.1, threshold=0.7,
        seed="split", num_hashes=32, bands=None,
    ).select("doc_id", "split")


@query(
    "q_quality_trim",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_TOK_WS_SQL} AS n_tok FROM documents
    )
    SELECT doc_id, lang, n_tok FROM (
      SELECT *, PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS pr
      FROM scored
    ) WHERE pr >= 0.1
    """,
)
def q_quality_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality trim: drop the bottom 10% of each language by
    token count. percent_rank keeps the cut integer-deterministic (ties and
    ordering resolve identically on any engine), unlike a float quantile
    threshold whose boundary comparisons can flip."""
    t = load_tables(spark, sf_dir, ["documents"])
    scored = t["documents"].select(
        "doc_id", "lang", TX.token_count_ws(F.col("text")).alias("n_tok")
    )
    return TX.quantile_trim(scored, "n_tok", "doc_id", "lang", low=0.1)


@query(
    "q_corpus_report",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tok), 2) AS avg_tokens,
           CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
           ROUND(AVG(n_chr), 2) AS avg_chars,
           CAST(SUM(CASE WHEN n_chr < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN n_chr >= 200 AND n_chr < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
           CAST(SUM(CASE WHEN n_chr >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
    FROM (SELECT lang, {_TOK_WS_SQL} AS n_tok, LENGTH(text) AS n_chr FROM documents)
    GROUP BY lang
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus health profile (doc counts, token totals, length
    buckets) — one pass, every aggregate map-side-combinable."""
    t = load_tables(spark, sf_dir, ["documents"])
    return TX.corpus_report(t["documents"], "text", "lang")


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOK_WS_SQL} AS n_tok FROM documents
    )
    SELECT doc_id, lang, n_tok,
           CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)
                       - n_tok) / 512.0) AS BIGINT) AS chunk_idx
    FROM toks
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: assign each document to the
    512-token context window its text starts in, packing per language in
    doc_id order (chunks never span languages)."""
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t["documents"].select(
        "doc_id", "lang", TX.token_count_ws(F.col("text")).alias("n_tok")
    )
    # scalable pack (r12): per-language packing via the two-pass
    # per-partition-prefix twin — the window form would sort each language
    # in ONE task (corpus/7 rows at scale); the oracle stays the window SQL,
    # so the gate hash-certifies the equivalence every round
    return TX.sequential_pack_scalable(toks, "n_tok", "doc_id", 512, "lang")


@query(
    "q_embedding_quantize",
    oracle="""
    SELECT vec_id,
           ARRAY_TO_STRING(
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(ROUND(x / (LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[], y -> ABS(y))) / 127.0), 0) AS INT)),
             ',') AS codes,
           ROUND(LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[], y -> ABS(y))) / 127.0, 6) AS scale
    FROM embeddings
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (codes +
    per-vector scale) — the 4× compression step before shipping vectors to an
    ANN index. Both engines compute max|x|/127 on the same float32→double
    widening, so codes round identically. Codes serialize to a CSV string on
    both sides: driver hash-matching cannot canonicalize raw array columns
    (registry convention)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    q = S.quantize_int8(S._as_double(F.col("embedding")))
    return t["embeddings"].select(
        "vec_id",
        F.array_join(
            F.transform(q["codes"], lambda x: x.cast("string")), ","
        ).alias("codes"),
        F.round(q["scale"], 6).alias("scale"),
    )


_INCR_DEDUP_ORACLE = """
    WITH b1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
    ), b2 AS (
      SELECT doc_id + 100000 AS doc_id, REGEXP_REPLACE(text, '^\\S+\\s*', '') AS text
      FROM b1 WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id >= 250
    ), alldocs AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM b2
    ), toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM alldocs WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), w AS (
      SELECT doc_id, LIST_DISTINCT(LIST(gram)) AS gs FROM (
        SELECT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS gram
        FROM (SELECT doc_id, ws,
                     UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1))) AS i
              FROM toks)
      ) GROUP BY doc_id
    ), p1 AS (
      SELECT DISTINCT b.doc_id AS id_b
      FROM w a JOIN w b ON a.doc_id < b.doc_id AND b.doc_id < 250
      WHERE LEN(LIST_INTERSECT(a.gs, b.gs)) * 1.0 /
            LEN(LIST_DISTINCT(LIST_CONCAT(a.gs, b.gs))) >= 0.7
    ), canon AS (
      SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT id_b FROM p1)
    ), p2 AS (
      SELECT DISTINCT b.doc_id AS id_b
      FROM w a JOIN w b
        ON a.doc_id < b.doc_id AND b.doc_id >= 100000
       AND (a.doc_id >= 100000 OR a.doc_id IN (SELECT doc_id FROM canon))
      WHERE LEN(LIST_INTERSECT(a.gs, b.gs)) * 1.0 /
            LEN(LIST_DISTINCT(LIST_CONCAT(a.gs, b.gs))) >= 0.7
    )
    SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT id_b FROM p2)
    """


def _incremental_dedup_two_batches(
    spark: SparkSession, sf_dir: str, make_store
) -> DataFrame:
    """The two-batch fixture both incremental dedup queries run: batch 1
    (doc_id < 250) bootstraps the canonical corpus; batch 2 (word-dropped
    copies of every 7th batch-1 doc + the genuinely new doc_id ≥ 250 docs,
    ids shifted +100000) dedups against the corpus's signature store,
    ``make_store(banded1)``. Returns batch 2's surviving ids.

    batch_min_id is passed explicitly (r13): the bound only needs to sit
    above every master id (< 250) and at-or-below every batch id (0 /
    >= 100000 by construction), so the fixture constants are exact and
    each call skips its driver-blocking min() probe job — the documented
    production hook exercised under the gate."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 250)
    surv1, banded1 = D.incremental_lsh_dedup(
        b1, None, None, "text", "doc_id", threshold=0.7, num_hashes=32,
        bands=None, batch_min_id=0,
    )
    store = make_store(banded1)
    copies = (
        b1.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    novel = docs.filter(F.col("doc_id") >= 250).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    batch2 = copies.unionByName(novel)
    surv2, _ = D.incremental_lsh_dedup(
        batch2, surv1, store, "text", "doc_id", threshold=0.7,
        num_hashes=32, bands=None, batch_min_id=100000,
    )
    return surv2.select("doc_id")


@query("q_incremental_dedup", oracle=_INCR_DEDUP_ORACLE)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup against a persisted signature store
    (_incremental_dedup_two_batches): batch 2 dedups against the corpus's
    SIGNATURES only — corpus text is re-read just for bucket-hit docs via a
    semi-join. The grouped store stays lineage here, so its aggregation
    plans into batch 2's bucket join.

    Oracle = the same two-phase semantics in exact all-pairs SQL: greedy
    min-id dedup of batch 1, then batch-2 docs dropped iff they pair ≥ 0.7
    with a canonical corpus doc or a lower-id batch-2 doc. Banding is 16
    bands of 2 rows, making per-pair miss ≤ 2.1e-5 at any J ≥ 0.7 a design
    bound rather than a fixture measurement (see q_minhash_lsh_dedup)."""
    return _incremental_dedup_two_batches(
        spark, sf_dir, lambda banded: D.group_banded_store(banded, "doc_id")
    )


def _synth_lines(docs: DataFrame) -> DataFrame:
    """Rebuild the no-newline synthetic corpus into multi-line documents:
    8-word chunks joined by newline, with duplicate lines planted by id class
    (doc_id%5==0 → first two lines repeated, else doc_id%2==0 → first line
    repeated). Pure expression fixture shared by the line-repetition queries;
    the oracle replays the identical chunking in DuckDB list SQL."""
    ws = D.words(F.col("text"))
    nchunks = F.ceil(F.size(ws) / F.lit(8.0)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(nchunks - 1, F.lit(0)))
    lines = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i * 8 + 1, 8)))
    extra = (
        F.when(F.col("doc_id") % 5 == 0, F.slice(lines, 1, 2))
        .when(F.col("doc_id") % 2 == 0, F.slice(lines, 1, 1))
        .otherwise(F.array().cast("array<string>"))
    )
    return docs.select(
        "doc_id", F.array_join(F.concat(lines, extra), "\n").alias("text")
    )


_LINES_CTE = """
    toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), chunks AS (
      SELECT doc_id,
             LIST(ARRAY_TO_STRING(ws[(i-1)*8+1:(i-1)*8+8], ' ') ORDER BY i) AS lines
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(CAST(CEIL(LEN(ws)/8.0) AS INT), 1))) AS i
            FROM toks)
      GROUP BY doc_id
    ), lines2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN LIST_CONCAT(lines, lines[1:2])
                  WHEN doc_id % 2 = 0 THEN LIST_CONCAT(lines, lines[1:1])
                  ELSE lines END AS lines
      FROM chunks
    ), ex AS (
      SELECT doc_id, UNNEST(lines) AS line FROM lines2
    ), per AS (
      SELECT doc_id, line, COUNT(*) AS cnt FROM ex GROUP BY doc_id, line
    ), linestats AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_lines,
             (SUM(cnt) - COUNT(*)) * 1.0 / SUM(cnt) AS dlf,
             SUM(CASE WHEN cnt > 1 THEN LEN(line) * cnt ELSE 0 END) * 1.0 /
               GREATEST(SUM(LEN(line) * cnt), 1) AS dlcf
      FROM per GROUP BY doc_id
    )
"""


@query(
    "q_line_repetition",
    oracle=f"""
    WITH {_LINES_CTE}
    SELECT doc_id, n_lines,
           ROUND(dlf, 6) AS dup_line_frac,
           ROUND(dlcf, 6) AS dup_line_char_frac
    FROM linestats
    """,
)
def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line rules over a synthesized multi-line corpus
    (8-word chunks, planted repeats by id class): fraction of repeated lines
    and fraction of characters in repeated lines, per document. Reference
    semantics: Rae et al. 2021 table A1 / Dolma gopher tagger; Spark shape is
    explode → (id,line) count → per-id re-aggregate, all map-side combinable."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    # fan out the RAW docs, not the synth output: the operator's internal
    # fan_out sits above the projection, leaving the HOF rebuild on the
    # one-task scan side (r13)
    out = TX.line_repetition_stats(_synth_lines(fan_out(docs)), "text", "doc_id")
    return out.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
    )


_NGRAM_CTE = """
    norm AS (
      SELECT doc_id, LEN(ARRAY_TO_STRING(ws, ' ')) AS norm_chars FROM toks
    ), c2 AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM (
        SELECT doc_id, ARRAY_TO_STRING(ws[i:i+1], ' ') AS gram
        FROM (SELECT doc_id, ws,
                     UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 1, 1))) AS i
              FROM toks)
      ) GROUP BY doc_id, gram
    ), top2 AS (
      SELECT doc_id, cnt * LEN(gram) AS top_chars
      FROM (SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram DESC) AS rn
            FROM c2)
      WHERE rn = 1
    ), p5 AS (
      -- gram + its char offset in the normalized doc (sum of len+1 priors)
      SELECT doc_id,
             ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram,
             COALESCE(SUM(LEN(ws[i]) + 1) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 4, 0))) AS i
            FROM toks)
    ), m5 AS (
      SELECT doc_id, st, st + LEN(gram) AS en,
             COUNT(*) OVER (PARTITION BY doc_id, gram) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY st) AS occ
      FROM p5
    ), cov5 AS (
      -- repeat occurrences only; union-merge overlapping char spans
      SELECT doc_id,
             GREATEST(en - GREATEST(st, COALESCE(MAX(en) OVER (
               PARTITION BY doc_id ORDER BY st, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), st)), 0) AS c
      FROM m5 WHERE cnt > 1 AND occ >= 2
    ), d5 AS (
      SELECT doc_id, SUM(c) AS dup_chars FROM cov5 GROUP BY doc_id
    )
"""


@query(
    "q_ngram_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), {_NGRAM_CTE}
    SELECT n.doc_id,
           ROUND(t.top_chars * 1.0 / n.norm_chars, 6) AS top_2gram_char_frac,
           ROUND(COALESCE(d.dup_chars, 0) * 1.0 / n.norm_chars, 6) AS dup_5gram_char_frac
    FROM norm n
    JOIN top2 t USING (doc_id)
    LEFT JOIN d5 d USING (doc_id)
    """,
)
def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition rules on the raw corpus: fraction of
    normalized characters covered by the most frequent 2-gram, and by all
    duplicated 5-grams. The small-vocab synthetic text has rich natural
    n-gram repetition, so values are non-degenerate without planting."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    out = TX.top_ngram_char_fraction(docs, "text", "doc_id", 2).join(
        TX.dup_ngram_char_fraction(docs, "text", "doc_id", 5), "doc_id"
    )
    return out.select(
        "doc_id",
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        F.round("dup_5gram_char_frac", 6).alias("dup_5gram_char_frac"),
    )


@query(
    "q_gopher_filter",
    oracle=f"""
    WITH {_LINES_CTE}
    , toks2 AS (
      SELECT doc_id, STRING_SPLIT_REGEX(ARRAY_TO_STRING(lines, CHR(10)), '\\s+') AS ws
      FROM lines2
    ), {_NGRAM_CTE.replace("FROM toks", "FROM toks2")}
    SELECT l.doc_id, l.n_lines,
           ROUND(l.dlf, 6) AS dup_line_frac,
           ROUND(l.dlcf, 6) AS dup_line_char_frac,
           ROUND(t.top_chars * 1.0 / n.norm_chars, 6) AS top_2gram_char_frac,
           ROUND(COALESCE(d.dup_chars, 0) * 1.0 / n.norm_chars, 6) AS dup_5gram_char_frac,
           l.dlf <= 0.30 AND l.dlcf <= 0.20
             AND t.top_chars * 1.0 / n.norm_chars <= 0.20
             AND COALESCE(d.dup_chars, 0) * 1.0 / n.norm_chars <= 0.15 AS keep
    FROM linestats l
    JOIN norm n ON l.doc_id = n.doc_id
    JOIN top2 t ON l.doc_id = t.doc_id
    LEFT JOIN d5 d ON l.doc_id = d.doc_id
    """,
)
def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed Gopher repetition filter (all four rules + keep verdict)
    over the synthesized multi-line corpus. keep compares UNROUNDED doubles on
    both engines — integer-ratio division is bit-identical, so the boolean
    matches even at threshold boundaries."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    # gopher's three feature pipelines each scan their input; when that
    # input is the _synth_lines HOF rebuild (not a pruned parquet scan),
    # lineage re-execution pays the interpreted transform/slice chain per
    # pipeline — materialize the doc-scale synthetic frame once (r13;
    # same caller-side amortization gopher_repetition_filter's docstring
    # prescribes for derived inputs). fan_out sits BELOW the synth
    # projection: applied above it, the one-task scan side would compute
    # the whole HOF chain before the exchange spreads anything.
    lined = stage(_synth_lines(fan_out(docs)), "synth_lines")
    out = TX.gopher_repetition_filter(lined, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        F.round("dup_5gram_char_frac", 6).alias("dup_5gram_char_frac"),
        "keep",
    )


def _top_n_cte(n: int) -> str:
    return f"""
    , c{n} AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM (
        SELECT doc_id, ARRAY_TO_STRING(ws[i:i+{n - 1}], ' ') AS gram
        FROM (SELECT doc_id, ws,
                     UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - {n - 1}, 1))) AS i
              FROM toks)
      ) GROUP BY doc_id, gram
    ), top{n} AS (
      SELECT doc_id, cnt * LEN(gram) AS top_chars
      FROM (SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram DESC) AS rn
            FROM c{n})
      WHERE rn = 1
    )"""


def _dup_n_cte(n: int) -> str:
    return f"""
    , p{n} AS (
      SELECT doc_id,
             ARRAY_TO_STRING(ws[i:i+{n - 1}], ' ') AS gram,
             COALESCE(SUM(LEN(ws[i]) + 1) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - {n - 1}, 0))) AS i
            FROM toks)
    ), m{n} AS (
      SELECT doc_id, st, st + LEN(gram) AS en,
             ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY st) AS occ
      FROM p{n}
    ), cov{n} AS (
      SELECT doc_id,
             GREATEST(en - GREATEST(st, COALESCE(MAX(en) OVER (
               PARTITION BY doc_id ORDER BY st, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), st)), 0) AS c
      FROM m{n} WHERE occ >= 2
    ), d{n} AS (
      SELECT doc_id, SUM(c) AS dup_chars FROM cov{n} GROUP BY doc_id
    )"""


_GOPHER_FULL_ORACLE = (
    """
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), norm AS (
      SELECT doc_id, LEN(ARRAY_TO_STRING(ws, ' ')) AS norm_chars FROM toks
    )"""
    + "".join(_top_n_cte(n) for n in (2, 3, 4))
    + "".join(_dup_n_cte(n) for n in (5, 6, 7, 8, 9, 10))
    + """
    SELECT n.doc_id,
    """
    + ",\n    ".join(
        f"ROUND(t{n}.top_chars * 1.0 / n.norm_chars, 6) AS top_{n}gram_char_frac"
        for n in (2, 3, 4)
    )
    + ",\n    "
    + ",\n    ".join(
        f"ROUND(COALESCE(dd{n}.dup_chars, 0) * 1.0 / n.norm_chars, 6)"
        f" AS dup_{n}gram_char_frac"
        for n in (5, 6, 7, 8, 9, 10)
    )
    + """
    FROM norm n
    """
    + "\n    ".join(f"JOIN top{n} t{n} ON n.doc_id = t{n}.doc_id" for n in (2, 3, 4))
    + "\n    "
    + "\n    ".join(
        f"LEFT JOIN d{n} dd{n} ON n.doc_id = dd{n}.doc_id" for n in (5, 6, 7, 8, 9, 10)
    )
)


@query("q_gopher_full_features", oracle=_GOPHER_FULL_ORACLE)
def q_gopher_full_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL NINE of Gopher's n-gram repetition features (top 2/3/4-gram +
    dup 5..10-gram char fractions) from the round-5 ONE-PASS operator
    (textstats.gopher_ngram_features): the corpus is shuffled once and
    every feature derives from a single word-level window frame — vs nine
    independent explode pipelines for the naive composition. Oracle
    restates each feature with the per-n exact CTEs."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    out = TX.gopher_ngram_features(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        *[
            F.round(c, 6).alias(c)
            for c in out.columns
            if c != "doc_id"
        ],
    )


# ---------------------------------------------------------------------------
# C4 / CCNet corpus-curation layer (round 3)
# ---------------------------------------------------------------------------


@query(
    "q_c4_filter",
    oracle=f"""
    WITH {_LINES_CTE}
    , planted AS (
      SELECT doc_id,
             LIST_TRANSFORM(GENERATE_SERIES(1, LEN(lines)), i ->
               CASE WHEN doc_id % 11 = 0 AND i = 1
                      THEN 'embedded javascript nav bar boilerplate.'
                    WHEN (i - 1) % 3 = 2 THEN lines[i]
                    ELSE lines[i] || '.' END) AS pl
      FROM lines2
    ), txt AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
                  THEN ARRAY_TO_STRING(pl, CHR(10)) || CHR(10) || 'lorem ipsum {{ dolor sit amet.'
                  ELSE ARRAY_TO_STRING(pl, CHR(10)) END AS text
      FROM planted
    ), f AS (
      SELECT doc_id, text, STRING_SPLIT(text, CHR(10)) AS lines,
             LIST_FILTER(STRING_SPLIT(text, CHR(10)), x ->
               REGEXP_MATCHES(RTRIM(x), '[.!?"]$')
               AND LEN(STRING_SPLIT_REGEX(TRIM(x), '\\s+')) >= 3
               AND NOT CONTAINS(LOWER(x), 'javascript')) AS kept
      FROM txt
    )
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(kept, CHR(10)), '') AS kept_text,
           LEN(lines) AS n_lines,
           LEN(kept) AS n_lines_kept,
           NOT CONTAINS(LOWER(text), 'lorem ipsum')
             AND NOT CONTAINS(text, '{{')
             AND LEN(kept) >= 3 AS keep
    FROM f
    """,
)
def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over the synthesized
    multi-line corpus with planted violations: every 3rd line lacks terminal
    punctuation, doc_id%11 docs get a "javascript" first line, doc_id%13
    docs get a trailing "lorem ipsum {" line. The operator is a pure per-row
    higher-order-function pipeline — no shuffle anywhere in the plan."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    # fan out below the synth rebuild (see q_line_repetition)
    lined = _synth_lines(fan_out(docs))
    arr = F.split(F.col("text"), "\n")
    pl = F.transform(
        arr,
        lambda x, i: F.when(
            (F.col("doc_id") % 11 == 0) & (i == 0),
            F.lit("embedded javascript nav bar boilerplate."),
        )
        .when(i % 3 == 2, x)
        .otherwise(F.concat(x, F.lit("."))),
    )
    text2 = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.array_join(pl, "\n"), F.lit("\nlorem ipsum { dolor sit amet.")),
    ).otherwise(F.array_join(pl, "\n"))
    fixture = lined.select("doc_id", text2.alias("text"))
    return TX.c4_quality_filter(fixture, "text", "doc_id")


@query(
    "q_paragraph_dedup",
    oracle=f"""
    WITH {_LINES_CTE}
    , pex AS (
      SELECT doc_id, i AS pos, lines[i] AS para,
             CASE WHEN TRIM(lines[i]) = ''
                  THEN 'blank:' || doc_id || ':' || i
                  ELSE REGEXP_REPLACE(TRIM(LOWER(lines[i])), '\\s+', ' ', 'g')
             END AS k
      FROM (SELECT doc_id, lines,
                   UNNEST(GENERATE_SERIES(1, LEN(lines))) AS i
            FROM lines2)
    ), prn AS (
      SELECT doc_id, pos, para,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
      FROM pex
    )
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(LIST(para ORDER BY pos) FILTER (WHERE rn = 1),
                                    CHR(10)), '') AS dedup_text,
           COUNT(*) AS n_paragraphs,
           COUNT(*) FILTER (WHERE rn = 1) AS n_kept
    FROM prn GROUP BY doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global paragraph dedup (C4 §2.2: first occurrence wins) over
    the synthesized multi-line corpus — its planted intra-doc repeats plus
    whatever 8-word chunks recur across documents dedup globally. The Spark
    window keys on xxhash64 of the normalized paragraph (8-byte shuffle
    key); the oracle keys on the normalized text itself — identical cluster
    structure barring a 2^-64 collision."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    # fan out below the synth rebuild (see q_line_repetition)
    return D.paragraph_dedup(_synth_lines(fan_out(docs)), "text", "doc_id")


@query(
    "q_vocabulary",
    oracle="""
    WITH ex AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS token
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), c AS (
      SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
      FROM ex GROUP BY token HAVING COUNT(*) >= 5
    ), r AS (
      SELECT token, cnt, doc_freq,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
      FROM c
    )
    SELECT token, cnt, doc_freq, rank FROM r WHERE rank <= 100
    """,
)
def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with counts, document frequency and frequency rank
    (min_count=5, top 100) — the tokenizer-training primitive. The rank
    window sorts the VOCAB (bounded), never the corpus."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    out = TX.vocabulary(docs, "text", "doc_id", min_count=5, top_k=100)
    return out.select("token", "cnt", "doc_freq", F.col("rank").cast("long").alias("rank"))


@query(
    "q_unigram_logprob",
    oracle="""
    WITH ex AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS token
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), lm AS (
      SELECT token, COUNT(*) AS cnt FROM ex GROUP BY token
    ), t AS (
      SELECT SUM(cnt) AS total FROM lm
    ), scored AS (
      SELECT e.doc_id, COUNT(*) AS n_tokens,
             ROUND(AVG(LN(lm.cnt * 1.0 / t.total)), 4) AS unigram_logprob
      FROM ex e JOIN lm USING (token) CROSS JOIN t
      GROUP BY e.doc_id
    )
    SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.unigram_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency scoring: per-doc mean log-probability under the
    corpus's own unigram LM (more negative = rarer vocabulary). Token-keyed
    LM aggregate + join, doc-keyed mean; the total-token scalar stays
    in-plan (broadcast 1-row aggregate, no driver round-trip)."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    return TX.unigram_logprob_score(docs, "text", "doc_id")


@query(
    "q_inverted_index",
    oracle="""
    WITH ex AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS token
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), pairs AS (
      SELECT DISTINCT token, doc_id FROM ex
    )
    SELECT token, COUNT(*) AS doc_freq,
           ARRAY_TO_STRING(
             LIST_TRANSFORM(LIST(doc_id ORDER BY doc_id)[1:20],
                            x -> CAST(x AS VARCHAR)), ',') AS postings
    FROM pairs GROUP BY token HAVING COUNT(*) >= 50
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token → posting list (sorted doc ids, capped at 20, serialized to a
    CSV string per the oracle protocol) with full document frequency, for
    tokens appearing in ≥ 50 documents. doc_freq counts the FULL posting
    set even when the emitted list is truncated."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    return TX.inverted_index(docs, "text", "doc_id", min_df=50, max_postings=20)


@query(
    "q_token_budget_trim",
    oracle="""
    WITH cum AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY SUBSTR(MD5('9:' || CAST(doc_id AS VARCHAR)), 1, 8),
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM cum WHERE c <= 20000
    """,
)
def q_token_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing with a HARD per-source budget: each source admits
    documents in content-hash order (seed 9) until 20k cumulative chars —
    reproducible across engines/partitioning because admission order is a
    pure function of (seed, doc_id). One group-keyed window is the only
    shuffle."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "source", "n_chars")
    return SA.token_budget_trim(
        docs, "doc_id", "source", "n_chars", budget=20000, seed=9
    )


@query(
    "q_source_quality_rollup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, text,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(LEN(text)), 2) AS avg_chars,
           ROUND(AVG(LEN(ws)), 2) AS avg_words,
           ROUND(AVG(CASE WHEN LEN(ws) = 0 THEN 0
                 ELSE LEN(LIST_FILTER(ws, x -> x IN ({_STOP_EN}))) * 1.0 / LEN(ws) END), 4)
             AS avg_stopword_ratio,
           COUNT(*) FILTER (WHERE LEN(ws) < 10) AS n_too_short
    FROM w GROUP BY source
    """,
)
def q_source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality profile — the triage view a curation run starts
    with (which sources are short/stopword-poor and worth trimming).
    Composes quality_features with one source-keyed aggregate; everything
    map-side combines."""
    t = load_tables(spark, sf_dir, ["documents"])
    feats = TX.quality_features(
        t["documents"].select("doc_id", "source", "text"), "text"
    )
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q_n_chars"), 2).alias("avg_chars"),
        F.round(F.avg("q_n_words"), 2).alias("avg_words"),
        F.round(F.avg("q_stopword_ratio"), 4).alias("avg_stopword_ratio"),
        F.count(F.when(F.col("q_n_words") < 10, 1)).alias("n_too_short"),
    )


@query(
    "q_pii_scrub",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || doc_id || '@example.com now'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN ' call 412-555-1234' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END
               AS text
      FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '[EMAIL_ADDRESS]', 'g'),
               '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[US_SOCIAL_SECURITY_NUMBER]', 'g'),
             '(\\+?1[-. ]?)?(\\(\\d{3}\\)|\\d{3})[-. ]?\\d{3}[-. ]?\\d{4}',
             '[PHONE_NUMBER]', 'g') AS scrubbed
    FROM planted
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale PII redaction (the reference's ReplacePII regex fallback,
    dataflow_utils.py:570-594, applied as a training-data curation step):
    emails, SSNs, then phone numbers become bracketed info-type tokens.
    Planted PII by id class keeps the check non-degenerate; replacement
    ORDER is part of the contract (SSN before phone — a bare 3-2-4 SSN must
    not be half-eaten by the 3-3-4 phone pattern) and the oracle mirrors
    it. Pure regexp_replace expressions — no shuffle."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" call 412-555-1234")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = TR.replace_pii(planted, "text", "scrubbed")
    return out.select("doc_id", "scrubbed")


@query(
    "q_validate_orders",
    oracle="""
    SELECT 'not_null(o_custkey)' AS rule,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS violations,
           COUNT(*) AS total,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                               OR o_orderstatus IS NULL),
           COUNT(*),
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                               OR o_orderstatus IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'in_range(o_totalprice)',
           COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 1000000
                               OR o_totalprice IS NULL),
           COUNT(*),
           COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 1000000
                               OR o_totalprice IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST(SUM(n - 1) AS BIGINT), CAST(SUM(n) AS BIGINT), SUM(n - 1) = 0
    FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'referential(o_custkey->c_custkey)',
           (SELECT COUNT(*) FROM orders o LEFT JOIN
              (SELECT DISTINCT c_custkey FROM customer) c
              ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o LEFT JOIN
              (SELECT DISTINCT c_custkey FROM customer) c
              ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0
    """,
)
def q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style validation of the orders batch before publish:
    three row-level rules in ONE aggregation pass (null custkey, status
    domain, price range), plus the keyed uniqueness and referential-
    integrity checks, unioned into a (rule, violations, total, passed)
    report — the declarative generalization of the reference's ad-hoc
    data-quality table (general_queries.py:23-44)."""
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    orders, customer = t["orders"], t["customer"]
    report = V.validate(
        orders,
        [
            V.not_null("o_custkey"),
            V.accepted_values("o_orderstatus", ["O", "F", "P"]),
            V.in_range("o_totalprice", 0, 1_000_000),
        ],
    )
    return report.unionByName(
        V.unique_check(orders, ["o_orderkey"])
    ).unionByName(
        V.referential_check(orders, "o_custkey", customer, "c_custkey")
    )


def _curation_pdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark prefix of the curation composites: fixture construction
    (multi-line corpus + planted near-dup copies) → C4 line cleaning →
    MinHash-LSH doc dedup at 0.7 → corpus-global paragraph dedup. Returns
    the cleaned corpus (doc_id, text), one row per surviving document —
    q_curation_pipeline's stages 1-3, reused verbatim by
    q_curation_select_mix so the two composites price the same prefix."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    # the fixture + C4 chain below is ~3s of interpreted HOFs per scan
    # split — spread a narrow parquet scan across cores first (fan_out is a
    # no-op once the input has natural splits)
    docs = fan_out(docs)
    lined = _synth_lines(docs)
    arr = F.split(F.col("text"), "\n")
    dotted = F.array_join(
        F.transform(arr, lambda x: F.concat(x, F.lit("."))), "\n"
    )
    base = lined.select("doc_id", dotted.alias("text"))
    copies = (
        base.filter(F.col("doc_id") % 6 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    kept = c4_clean(base.unionByName(copies), "text", "doc_id")
    dd = D.minhash_lsh_dedup(
        kept, "text", "doc_id", threshold=0.7, num_hashes=32, bands=None
    )
    para = D.paragraph_dedup(dd, "text", "doc_id")
    return (
        para.filter(F.col("n_kept") > 0)
        .select("doc_id", F.col("dedup_text").alias("text"))
    )


# Shared oracle prefix of the curation composites (q_curation_pipeline,
# q_curation_select_mix): fixture construction → C4 line cleaning →
# MinHash-LSH doc dedup (exact-Jaccard form, guarded — see the banding
# PRECONDITION note inside q_curation_pipeline's oracle) → corpus-global
# paragraph dedup. Ends at ``pdocs`` (doc_id, text, n_kept); ``pj1`` stays
# visible for the aggregate-miss guard.
_CURATION_PREFIX_SQL = f"""{_LINES_CTE}
    , dotted AS (
      SELECT doc_id, LIST_TRANSFORM(lines, x -> x || '.') AS lines FROM lines2
    ), based AS (
      SELECT doc_id, ARRAY_TO_STRING(lines, CHR(10)) AS text FROM dotted
    ), aug AS (
      SELECT doc_id, text FROM based
      UNION ALL
      SELECT doc_id + 100000, REGEXP_REPLACE(text, '^\\S+\\s*', '')
      FROM based WHERE doc_id % 6 = 0
    ), c4f AS (
      SELECT doc_id, text,
             LIST_FILTER(STRING_SPLIT(text, CHR(10)), x ->
               REGEXP_MATCHES(RTRIM(x), '[.!?"]$')
               AND LEN(STRING_SPLIT_REGEX(TRIM(x), '\\s+')) >= 3
               AND NOT CONTAINS(LOWER(x), 'javascript')) AS kept
      FROM aug
    ), c4kept AS (
      SELECT doc_id, kept FROM c4f
      WHERE NOT CONTAINS(LOWER(text), 'lorem ipsum')
        AND NOT CONTAINS(text, '{{') AND LEN(kept) >= 3
    ), sh AS (
      SELECT doc_id, LIST_DISTINCT(LIST(gram)) AS gs FROM (
        SELECT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS gram
        FROM (SELECT doc_id,
                     STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(ARRAY_TO_STRING(kept, CHR(10))), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws,
                     UNNEST(GENERATE_SERIES(1, GREATEST(
                       LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(ARRAY_TO_STRING(kept, CHR(10))), '^\\s+|\\s+$', '', 'g'), '\\s+')) - 2, 1))) AS i
              FROM c4kept)
      ) GROUP BY doc_id
    ), pj1 AS MATERIALIZED (
      SELECT b.doc_id AS id_b,
             LEN(LIST_INTERSECT(a.gs, b.gs)) * 1.0 /
             LEN(LIST_DISTINCT(LIST_CONCAT(a.gs, b.gs))) AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ), drop1 AS (
      SELECT DISTINCT id_b FROM pj1 WHERE j >= 0.7
    ), dd AS (
      SELECT doc_id, kept FROM c4kept
      WHERE doc_id NOT IN (SELECT id_b FROM drop1)
    ), pex AS (
      SELECT doc_id, i AS pos, kept[i] AS para,
             REGEXP_REPLACE(TRIM(LOWER(kept[i])), '\\s+', ' ', 'g') AS k
      FROM (SELECT doc_id, kept, UNNEST(GENERATE_SERIES(1, LEN(kept))) AS i
            FROM dd)
    ), prn AS (
      SELECT doc_id, pos, para,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
      FROM pex
    ), pdocs AS (
      SELECT doc_id,
             ARRAY_TO_STRING(LIST(para ORDER BY pos) FILTER (WHERE rn = 1),
                             CHR(10)) AS text,
             COUNT(*) FILTER (WHERE rn = 1) AS n_kept
      FROM prn GROUP BY doc_id
    )"""


@query(
    "q_curation_pipeline",
    oracle=f"""
    WITH {_CURATION_PREFIX_SQL}
    , toked AS (
      SELECT doc_id,
             CASE WHEN SUBSTR(MD5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '19999999'
                  THEN 'test' ELSE 'train' END AS split,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_tok
      FROM pdocs WHERE n_kept > 0
    )
    -- PRECONDITION (guarded, see q_char_lsh_dedup): exact-Jaccard oracle vs
    -- banded MinHash-LSH (16 bands of 2 rows). The 16×2 banding was CHOSEN
    -- so the per-pair miss (1-J^2)^16 stays <= 2.1e-5 for every J >= 0.7 —
    -- there is no per-pair weak band above threshold (sf0.001 legitimately
    -- has a pair at J~0.72; banning a sliver would false-alarm on it). The
    -- real hazard is AGGREGATE: many pairs hugging the threshold. The
    -- guard errors LOUDLY when the summed expected miss over all
    -- above-threshold pairs exceeds 1e-3 — a new sf_dir then fails with a
    -- diagnosis instead of silently flaking the hash compare. (The guard
    -- predicate is TRUE or raises — it never filters rows, so the packing
    -- window below is unaffected.)
    SELECT doc_id, split, n_tok,
           CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY split ORDER BY doc_id)
                       - n_tok) / 512.0) AS BIGINT) AS chunk_idx
    FROM toked
    WHERE 1 = (SELECT CASE
                 WHEN COALESCE(SUM(POWER(1 - j * j, 16)), 0) < 0.001 THEN 1
                 ELSE error(
                 'aggregate LSH miss budget exceeded: sum of (1-J^2)^16 '
                 || 'over above-threshold pairs >= 1e-3, so the exact '
                 || 'Jaccard oracle is no longer safe against 16x2 banded '
                 || 'recall; this sf_dir violates q_curation_pipeline''s '
                 || 'precondition')
               END FROM pj1 WHERE j >= 0.7)
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end curation pipeline as one driver-checked query — every
    stage's oracle composed into a single SQL program:

    fixture: multi-line corpus (8-word chunks, intra-doc repeat planting
    from _synth_lines), every line '.'-terminated, plus word-dropped
    near-dup copies (doc_id+100000) of every 6th doc;
    1. C4 line cleaning (short-line and <3-line docs fall out);
    2. MinHash-LSH doc dedup at 0.7 — drops exactly the planted copies
       (J ≈ 0.95+; the corpus's natural pair similarities stay below 0.6,
       re-verified on the transformed text, so banded recall is total);
    3. corpus-global paragraph dedup (eats the planted intra-doc repeats
       and cross-doc chunk collisions);
    4. leakage-safe split (content-hash, 10% test);
    5. per-split sequence packing into 512-token windows.

    Output: (doc_id, split, n_tok, chunk_idx) per surviving document."""
    pdocs = _curation_pdocs(spark, sf_dir)
    split = SA.train_test_split(pdocs, "doc_id", 0.1, seed="cur")
    toked = split.select(
        "doc_id", "split", TX.token_count_ws(F.col("text")).alias("n_tok")
    )
    # scalable pack (r12): identical chunk_idx to the window form the
    # oracle spells, without one-task-per-split serialization
    return TX.sequential_pack_scalable(toked, "n_tok", "doc_id", 512, "split")


@query(
    "q_curation_select_mix",
    oracle=f"""
    WITH {_CURATION_PREFIX_SQL}
    , corpus AS MATERIALIZED (
      SELECT p.doc_id, COALESCE(d.lang, 'und') AS lang, p.text,
             CASE WHEN REGEXP_REPLACE(p.text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(p.text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_tok
      FROM pdocs p LEFT JOIN documents d USING (doc_id)
      WHERE p.n_kept > 0
    ), dw AS (
      SELECT doc_id, lang,
             STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM corpus WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), dgrams AS (
      SELECT doc_id, lang, UNNEST(ws) AS gram FROM dw
      UNION ALL
      SELECT doc_id, lang,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ws)),
                                   j -> ws[j] || ' ' || ws[j + 1])) AS gram
      FROM dw WHERE LEN(ws) >= 2
    ), dfeats AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(CONCAT('0x', SUBSTR(MD5('0:' || gram), 1, 8)) AS BIGINT) % 4096
               AS bucket,
             COUNT(*) AS cnt
      FROM dgrams GROUP BY doc_id, lang, bucket
    ), dtc AS MATERIALIZED (
      SELECT bucket, SUM(cnt) AS ct FROM dfeats WHERE lang = 'en' GROUP BY bucket
    ), dsc AS MATERIALIZED (
      SELECT bucket, SUM(cnt) AS cs FROM dfeats GROUP BY bucket
    ), dtt AS (SELECT SUM(ct) AS tt FROM dtc),
    dts AS (SELECT SUM(cs) AS ts FROM dsc),
    dratios AS (
      SELECT r.range AS bucket,
             ROUND(LN((COALESCE(dtc.ct, 0) + 1.0) / (dtt.tt + 4096.0))
                   - LN((COALESCE(dsc.cs, 0) + 1.0) / (dts.ts + 4096.0)), 6)
               AS log_ratio
      FROM RANGE(0, 4096) r
      LEFT JOIN dtc ON dtc.bucket = r.range
      LEFT JOIN dsc ON dsc.bucket = r.range
      CROSS JOIN dtt CROSS JOIN dts
    ), weighted AS (
      SELECT c.doc_id, c.lang, c.n_tok, COALESCE(w.log_weight, 0.0) AS log_weight
      FROM corpus c LEFT JOIN (
        SELECT f.doc_id,
               ROUND(SUM(f.cnt * CAST(ROUND(r.log_ratio * 1000000) AS BIGINT))
                     / 1000000.0, 6) AS log_weight
        FROM dfeats f JOIN dratios r USING (bucket)
        GROUP BY f.doc_id
      ) w USING (doc_id)
    ), selected AS MATERIALIZED (
      SELECT doc_id, lang, n_tok, log_weight FROM weighted
      ORDER BY log_weight
               - LN(-LN((CAST(CONCAT('0x', SUBSTR(MD5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 0.5) / 4294967296.0))
               DESC, doc_id
      LIMIT 300
    ), mcounts AS (
      SELECT lang, CAST(SUM(n_tok) AS DOUBLE) AS n FROM selected GROUP BY lang
    ), msized AS (
      SELECT lang, n, n * 4.0 AS cap,
             ROW_NUMBER() OVER (ORDER BY n * 4.0 ASC, lang ASC) AS r,
             SUM(n * 4.0) OVER (ORDER BY n * 4.0 ASC, lang ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             COUNT(*) OVER () AS L
      FROM mcounts
    ), mflag AS (
      SELECT *, cap * CAST(L - r + 1 AS DOUBLE) <= 40000.0 - (cum - cap) AS sat
      FROM msized
    ), mlev AS (
      SELECT *,
             SUM(CASE WHEN sat THEN 1 ELSE 0 END) OVER () AS p,
             COALESCE(SUM(CASE WHEN sat THEN cap END) OVER (), 0.0) AS cumsat
      FROM mflag
    ), malloc AS (
      SELECT lang, n,
             CASE WHEN sat THEN cap
                  ELSE (40000.0 - cumsat) / CAST(L - p AS DOUBLE) END AS a
      FROM mlev
    ), mrates AS (
      SELECT lang, CAST(FLOOR(ROUND(a, 6) / n) AS INT) AS fullep,
             ROUND(a, 6) - CAST(FLOOR(ROUND(a, 6) / n) AS DOUBLE) * n AS rem
      FROM malloc
    ), mcum AS (
      SELECT s.doc_id, s.lang, s.n_tok, s.log_weight, r.fullep, r.rem,
             SUM(CAST(s.n_tok AS DOUBLE)) OVER (
               PARTITION BY s.lang
               ORDER BY SUBSTR(MD5('43:' || CAST(s.doc_id AS VARCHAR)), 1, 8), s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM selected s JOIN mrates r ON s.lang = r.lang
    ), mnc AS (
      SELECT doc_id, lang, n_tok, log_weight,
             fullep + CASE WHEN c <= rem THEN 1 ELSE 0 END AS n_copies
      FROM mcum
    )
    SELECT doc_id, lang, log_weight, n_tok,
           UNNEST(GENERATE_SERIES(0, n_copies - 1)) AS epoch
    FROM mnc
    WHERE n_copies > 0
      -- same aggregate LSH miss-budget guard as q_curation_pipeline: this
      -- composite shares the banded-dedup prefix, so a new sf_dir whose
      -- above-threshold pairs could slip the 16x2 banding must fail LOUDLY
      -- here too, not hash-flake
      AND 1 = (SELECT CASE
                 WHEN COALESCE(SUM(POWER(1 - j * j, 16)), 0) < 0.001 THEN 1
                 ELSE error('aggregate LSH miss budget exceeded in '
                            || 'q_curation_select_mix''s shared prefix')
               END FROM pj1 WHERE j >= 0.7)
    """,
)
def q_curation_select_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation composite's SELECTION + MIXING tail (round 11): the
    cleaned, deduplicated corpus from q_curation_pipeline's shared prefix is
    (4) DSIR-weighted toward its English subset (hashed unigram+bigram
    features, 4096 buckets — Xie et al. 2023), (5) resampled to the 300
    highest Gumbel-top-k documents (sampling without replacement
    proportional to exp(log_weight)), and (6) materialized as a UniMax
    epoch-capped training mix across languages (Chung et al. 2023; 40k-token
    budget, 4-epoch cap) — clean → dedup → select → mix, the full
    pretraining data-curation pipeline as ONE driver-checked program.

    Scale posture: the prefix is the priced q_curation_pipeline chain; the
    cleaned corpus is checkpointed ONCE at the stage boundary (doc-scale,
    the materialize-the-cleaned-batch posture) so the DSIR featurize's two
    consumers and the final weight join replay a cached frame, not the
    dedup lineage; the selected 300-row frame is checkpointed before UniMax
    (whose allocation aggregate + broadcast join would otherwise replay the
    whole selection twice). Output: one row per (selected doc, epoch)."""
    pdocs = _curation_pdocs(spark, sf_dir)
    langs = (
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id", "lang")
    )
    corpus = pdocs.join(langs, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("und")).alias("lang"), "text"
    )
    # stage-boundary materialization: three downstream consumers (pool
    # featurize x2, recomputed by measured choice; final weight join) — same
    # posture as the prefix's `kept` checkpoint
    corpus = stage(corpus, "dsir_corpus")
    weighted = IMP.dsir_importance_weights(
        corpus, "text", "doc_id", None, target_flag=F.col("lang") == "en",
        num_buckets=4096, n_max=2, alpha=1.0, seed=0,  # one-pass target (r14)
    )
    sel = IMP.dsir_resample(weighted, "doc_id", "log_weight", 300, seed="mix")
    toks = stage(  # 300 rows; unimax consumes it twice
        sel.select(
            "doc_id", "lang", "log_weight",
            TX.token_count_ws(F.col("text")).alias("n_tok"),
        ),
        "mix_tokens",
    )
    mixed = SA.unimax_sample(
        toks, "doc_id", "lang", "n_tok",
        total_budget=40_000.0, epoch_cap=4.0, seed=43,
    )
    return mixed.select("doc_id", "lang", "log_weight", "n_tok", "epoch")


@query(
    "q_char_lsh_dedup",
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
      UNION ALL
      SELECT doc_id + 100000, SUBSTRING(text, 4)
      FROM documents WHERE doc_id % 9 = 0 AND REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), norm AS (
      SELECT doc_id,
             REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g') AS t
      FROM aug
    ), grams AS (
      -- blocked candidate generation (r8->r9): the exact all-pairs
      -- LIST_INTERSECT form was O(n²) pairs x ~284-gram lists and blew
      -- the 240s oracle budget at sf0.1 (certifying only at sf0.01).
      -- Only pairs SHARING a 7-gram can have J > 0, so the inverted-index
      -- join visits O(sum df(gram)²) rows and the shared-gram COUNT is
      -- the intersection size — still EXACT, ~48s at sf0.1. (Prefix
      -- filtering was tried and rejected: this synthetic corpus has only
      -- ~6.3k distinct char 7-grams, so even per-doc-rarest grams have
      -- df in the hundreds and the filter kept 7M of 15M pairs.)
      SELECT DISTINCT doc_id, SUBSTRING(t, i, 7) AS gram
      FROM (SELECT doc_id, t,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(t) - 6, 1))) AS i
            FROM norm)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT g1.doc_id AS id_a, g2.doc_id AS id_b, COUNT(*) AS c
      FROM grams g1 JOIN grams g2 USING (gram)
      WHERE g1.doc_id < g2.doc_id
      GROUP BY 1, 2
    ), pj AS (
      SELECT id_b, c * 1.0 / (sa.n + sb.n - c) AS j
      FROM inter
      JOIN sizes sa ON sa.doc_id = inter.id_a
      JOIN sizes sb ON sb.doc_id = inter.id_b
    ), drops AS (
      SELECT DISTINCT id_b FROM pj WHERE j >= 0.8
    )
    -- PRECONDITION NOTE: this oracle is exact Jaccard over blocked
    -- candidates; the implementation is banded MinHash-LSH with 16 bands
    -- of 4 rows. Rows per band are chosen from the SIMILARITY LANDSCAPE,
    -- not one-size: the word path uses r=2 (natural word-shingle J is
    -- tiny, so r=2 buys a universal (1-J^2)^16 recall bound at no
    -- candidate cost), but char 7-grams have a fat natural-similarity
    -- tail (common English 7-grams put many pairs at J~0.15), and r=2
    -- floods the verifier — measured 1.36M candidates vs 6.8k at r=4 for
    -- the same 871 true pairs. r=4 recall: miss <= (1-J^4)^16 = 2.3e-4
    -- at J=0.8, 7e-6 at J=0.85. The guard below is the AGGREGATE miss
    -- budget (q_curation_pipeline's form, replacing r8's binary
    -- any-pair-in-[0.8,0.85) refusal): certification demands the summed
    -- expected banded miss over all above-threshold pairs stay under
    -- 1e-3 — sf0.1's single J~0.80 natural pair contributes ~2.2e-4 and
    -- certifies; a fixture that stacks pairs where the bound is weak
    -- still fails LOUDLY with a diagnosis.
    SELECT doc_id FROM aug
    WHERE doc_id NOT IN (SELECT id_b FROM drops)
      AND 1 = (SELECT CASE
                 WHEN COALESCE(SUM(POWER(1 - j*j*j*j, 16)), 0) < 0.001
                 THEN 1 ELSE error(
                 'aggregate LSH miss budget exceeded: sum of (1-J^4)^16 '
                 || 'over J>=0.8 pairs >= 1e-3, so the exact Jaccard '
                 || 'oracle is no longer safe against 16x4 banded '
                 || 'recall; this sf_dir '
                 || 'violates q_char_lsh_dedup''s precondition')
               END FROM pj WHERE j >= 0.8)
    """,
)
def q_char_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-free MinHash-LSH dedup on character 7-grams — the CJK/
    mixed-script path — with planted prefix-clipped copies (doc_id+100000,
    first 3 chars dropped; char-gram J ≈ 0.95+).

    Oracle = exact char-7-gram Jaccard ≥ 0.8 with greedy min-id drop,
    via inverted-index blocked candidate generation (only gram-sharing
    pairs scored; O(Σ df²) not O(n²) — ~48s at sf0.1 where the all-pairs
    LIST_INTERSECT form blew the 240s budget). Banding is 16 bands of 4
    rows — char-grams need r=4 because the natural char-similarity tail
    is fat (see the oracle's precondition note: r=2 produced 1.36M
    candidates for 871 true pairs, a 37s verify; r=4 produces 6.8k for
    the same 871, verified in 2.4s). This is the repo's one deliberate
    divergence from the default-budget planner (which would take 32×2 at
    miss ≤ 1e-4 — exactly the candidate explosion measured above);
    lsh_plan(0.8, 64, miss_budget=3e-4) returns 16×4, so the literal is
    the planner's own answer at the measured-safe budget (test-pinned),
    kept literal rather than bands=None because _resolve_bands fixes the
    1e-4 budget. The oracle carries the aggregate
    banded-miss budget guard (Σ(1-J⁴)¹⁶ over J≥0.8 pairs < 1e-3) — loud
    refusal on fixtures where banded recall is genuinely at risk, while
    a lone J~0.80 pair (sf0.1 has exactly one) certifies."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    copies = (
        docs.filter(F.col("doc_id") % 9 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.expr("substring(text, 4, length(text))"))
    )
    aug = docs.unionByName(copies)
    return D.minhash_lsh_dedup(
        aug, "text", "doc_id", threshold=0.8, num_hashes=64, bands=16,
        shingle_n=7, shingle_mode="char",
    ).select("doc_id")


@query(
    "q_dup_cluster_stats",
    oracle="""
    WITH RECURSIVE aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, REGEXP_REPLACE(text, '^\\S+\\s*', '')
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM aug WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), grams AS (
      -- blocked candidate generation, same r9 rewrite as q_minhash_cc_dedup:
      -- only pairs sharing a shingle are scored (inverted-index join,
      -- O(sum df²) not O(n²)); shared-gram COUNT is the intersection size
      SELECT DISTINCT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1))) AS i
            FROM toks)
    ), gsz AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT g1.doc_id AS id_a, g2.doc_id AS id_b, COUNT(*) AS c
      FROM grams g1 JOIN grams g2 USING (gram)
      WHERE g1.doc_id < g2.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN gsz sa ON sa.doc_id = inter.id_a
      JOIN gsz sb ON sb.doc_id = inter.id_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id
    ), sizes AS (
      SELECT c, COUNT(*) AS sz FROM comp GROUP BY c
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
    UNION ALL
    SELECT 1, CAST((SELECT COUNT(*) FROM toks) -
                   (SELECT COUNT(*) FROM comp) AS BIGINT)
    """,
)
def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster profile of the corpus: histogram of near-dup
    cluster sizes from the exact connected-components closure, plus the
    singleton count — the report a dedup run should publish (is redundancy
    a few huge boilerplate cliques or many small pairs?). Oracled by the
    same recursive-CTE closure as q_minhash_cc_dedup."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "text"
    )
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    aug = docs.unionByName(copies)
    verified = D.minhash_lsh_verified_pairs(
        aug, "text", "doc_id", 0.7, num_hashes=32, bands=None
    )
    comps = D.connected_components(verified)
    hist = (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
    n_docs = aug.filter(F.trim(F.col("text")) != "").agg(
        F.count(F.lit(1)).alias("__n")
    )
    n_nodes = comps.agg(F.count(F.lit(1)).alias("__m"))
    singletons = n_docs.crossJoin(n_nodes).select(
        F.lit(1).cast("long").alias("cluster_size"),
        (F.col("__n") - F.col("__m")).cast("long").alias("n_clusters"),
    )
    return hist.unionByName(singletons)


@query(
    "q_decontaminate_spans",
    oracle=f"""
    WITH {_LINES_CTE}
    , bench AS (
      SELECT lines[1] AS btext FROM lines2 WHERE doc_id % 25 = 0
    ), bsh AS (
      SELECT DISTINCT ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
      FROM (SELECT STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(btext), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(
                     LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(btext), '^\\s+|\\s+$', '', 'g'), '\\s+')) - 4, 1))) AS i
            FROM bench)
    ), sp AS (
      SELECT doc_id, i AS pos, lines[i] AS span
      FROM (SELECT doc_id, lines, UNNEST(GENERATE_SERIES(1, LEN(lines))) AS i
            FROM lines2)
    ), ssh AS (
      SELECT doc_id, pos, ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, pos,
                   STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(span), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws,
                   UNNEST(GENERATE_SERIES(1, GREATEST(
                     LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(span), '^\\s+|\\s+$', '', 'g'), '\\s+')) - 4, 1))) AS i
            FROM sp)
    ), hits AS (
      SELECT DISTINCT doc_id, pos FROM ssh JOIN bsh USING (gram)
    )
    SELECT s.doc_id,
           COALESCE(ARRAY_TO_STRING(
             LIST(s.span ORDER BY s.pos) FILTER (WHERE h.pos IS NULL),
             CHR(10)), '') AS clean_text,
           COUNT(*) AS n_spans,
           COUNT(*) FILTER (WHERE h.pos IS NOT NULL) AS n_removed
    FROM sp s LEFT JOIN hits h ON s.doc_id = h.doc_id AND s.pos = h.pos
    GROUP BY s.doc_id
    """,
)
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (Dolma-style): the benchmark set is the
    first 8-word line of every 25th document, and any LINE anywhere in the
    corpus sharing a 5-gram shingle with it is deleted while the rest of
    the document survives — contrast q_decontaminate, which flags whole
    documents. Hash-equi probe against the broadcast benchmark shingle set;
    reassembly preserves span order."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text").filter(F.trim(F.col("text")) != "")
    # fan out below the synth rebuild, and materialize it once: the corpus
    # and benchmark sides are two consumers of the same HOF-built frame
    # (r13, see q_line_repetition / q_gopher_filter)
    lined = stage(_synth_lines(fan_out(docs)), "synth_lines")
    bench = lined.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.split(F.col("text"), "\n").getItem(0).alias("text")
    )
    return TX.remove_contaminated_spans(lined, bench, "text", "doc_id", shingle_n=5)


@query(
    "q_quality_classifier",
    oracle="""
    WITH w AS (
      -- blank texts are excluded here and coalesced to sigmoid(0)=0.5 at
      -- the end, matching the engine's words('') = [] semantics (DuckDB's
      -- STRING_SPLIT_REGEX('', '\\s+') would otherwise mint one ''-feature)
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), feats AS (
      SELECT doc_id, ws[i] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS i FROM w)
      UNION ALL
      SELECT doc_id, ws[i] || '_' || ws[i + 1] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)
    ), wt AS (
      SELECT b AS bucket,
             (CAST(CONCAT('0x', SUBSTR(MD5('w:' || CAST(b AS VARCHAR)), 1, 8))
                   AS BIGINT) / 4294967296.0) * 2.0 - 1.0 AS weight
      FROM (SELECT UNNEST(GENERATE_SERIES(0, 1023)) AS b)
    ), fb AS (
      SELECT doc_id,
             CAST(CONCAT('0x', SUBSTR(MD5('w:' || f), 1, 8)) AS BIGINT) % 1024
               AS bucket
      FROM feats
    ), agg AS (
      SELECT fb.doc_id, SUM(wt.weight) / COUNT(*) AS m
      FROM fb JOIN wt ON fb.bucket = wt.bucket GROUP BY fb.doc_id
    )
    SELECT d.doc_id,
           COALESCE(ROUND(1.0 / (1.0 + EXP(-agg.m)), 4), 0.5) AS clf_score
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-classifier SERVING path (fastText-style): word
    unigram+bigram features hashed into 1024 buckets (hashing trick — fixed
    feature space, no vocabulary object), weights looked up via a BROADCAST
    join against the (bucket, weight) coefficient table, averaged per doc,
    squashed with a sigmoid. No Python UDF anywhere (the featurizer is
    expression-only; see hashed_linear_score for the HOF-vs-codegen note);
    the only shuffle is the per-doc re-aggregation. The weight
    table is a deterministic stand-in for exported trained coefficients
    (textstats.make_hashed_weights), replayed bucket-for-bucket in the
    oracle."""
    t = load_tables(spark, sf_dir, ["documents"])
    wts = TX.make_hashed_weights(spark, 1024, seed="w")
    out = TX.hashed_linear_score(
        t["documents"], "text", "doc_id", wts, num_buckets=1024, seed="w"
    )
    return out.select("doc_id", F.round("clf_score", 4).alias("clf_score"))


@query(
    "q_classifier_auc",
    oracle="""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), feats AS (
      SELECT doc_id, ws[i] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS i FROM w)
      UNION ALL
      SELECT doc_id, ws[i] || '_' || ws[i + 1] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)
    ), wt AS (
      SELECT b AS bucket,
             (CAST(CONCAT('0x', SUBSTR(MD5('w:' || CAST(b AS VARCHAR)), 1, 8))
                   AS BIGINT) / 4294967296.0) * 2.0 - 1.0 AS weight
      FROM (SELECT UNNEST(GENERATE_SERIES(0, 1023)) AS b)
    ), fb AS (
      SELECT doc_id,
             CAST(CONCAT('0x', SUBSTR(MD5('w:' || f), 1, 8)) AS BIGINT) % 1024
               AS bucket
      FROM feats
    ), agg AS (
      SELECT fb.doc_id, SUM(wt.weight) / COUNT(*) AS m
      FROM fb JOIN wt ON fb.bucket = wt.bucket GROUP BY fb.doc_id
    ), scored AS (
      SELECT d.doc_id,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
             COALESCE(ROUND(1.0 / (1.0 + EXP(-agg.m)), 4), 0.5) AS s
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    ), per_s AS (
      SELECT s, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
      FROM scored GROUP BY s
    ), ranked AS (
      SELECT np, nn,
             2 * COALESCE(SUM(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nn
               AS below2
      FROM per_s
    )
    SELECT CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                THEN ROUND(SUM(np * below2) * 1.0
                           / (2.0 * SUM(np) * SUM(nn)), 6) END AS auc,
           CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg
    FROM ranked
    """,
)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the serving-path quality scorer against the
    language-derived binary label — the threshold-FREE half of classifier
    evaluation (q_classifier_eval's sweep gives the operating points; AUC
    ranks the scorer itself). Mann-Whitney with average-rank ties: scores
    collapse to one row per distinct 4-dp sigmoid output (model-sized), the
    below/ties cumulative runs over that tiny frame, and 2·U is an exact
    integer both engines sum order-free — the oracle replays the scoring
    (q_quality_classifier's CTEs) and the exact rank-sum arithmetic."""
    return TX.classifier_auc(_serving_path_scored(spark, sf_dir), "y", "s")


_SCORED_CTES = """
    WITH w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), feats AS (
      SELECT doc_id, ws[i] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS i FROM w)
      UNION ALL
      SELECT doc_id, ws[i] || '_' || ws[i + 1] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)
    ), wt AS (
      SELECT b AS bucket,
             (CAST(CONCAT('0x', SUBSTR(MD5('w:' || CAST(b AS VARCHAR)), 1, 8))
                   AS BIGINT) / 4294967296.0) * 2.0 - 1.0 AS weight
      FROM (SELECT UNNEST(GENERATE_SERIES(0, 1023)) AS b)
    ), fb AS (
      SELECT doc_id,
             CAST(CONCAT('0x', SUBSTR(MD5('w:' || f), 1, 8)) AS BIGINT) % 1024
               AS bucket
      FROM feats
    ), agg AS (
      SELECT fb.doc_id, SUM(wt.weight) / COUNT(*) AS m
      FROM fb JOIN wt ON fb.bucket = wt.bucket GROUP BY fb.doc_id
    ), scored AS (
      SELECT d.doc_id,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
             COALESCE(ROUND(1.0 / (1.0 + EXP(-agg.m)), 4), 0.5) AS s
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    )"""


def _serving_path_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Spark half of _SCORED_CTES: serving-path quality score
    (fixed hashed weights, no training) against the language-derived
    binary label — (y, s) with s the 4-dp sigmoid."""
    t = load_tables(spark, sf_dir, ["documents"])
    wts = TX.make_hashed_weights(spark, 1024, seed="w")
    scored = TX.hashed_linear_score(
        t["documents"], "text", "doc_id", wts, num_buckets=1024, seed="w"
    )
    return (
        t["documents"]
        .select(
            "doc_id", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
        )
        .join(scored, "doc_id")
        .select("y", F.round("clf_score", 4).alias("s"))
    )


@query(
    "q_classifier_pr_auc",
    oracle=_SCORED_CTES + """
    , per_s AS (
      SELECT s, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
      FROM scored GROUP BY s
    ), cum AS (
      SELECT s, np,
             SUM(np) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
             SUM(np + nn) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
             SUM(np) OVER () AS p, SUM(nn) OVER () AS n
      FROM per_s
    ), ap AS (
      SELECT p, n,
             SUM((CAST(np AS DOUBLE) / p) * (CAST(ctp AS DOUBLE) / cn))
               OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ap_run
      FROM cum
    )
    SELECT CASE WHEN MAX(p) > 0 THEN ROUND(MAX(ap_run), 6) END AS pr_auc,
           CAST(MAX(p) AS BIGINT) AS n_pos,
           CAST(MAX(n) AS BIGINT) AS n_neg
    FROM ap
    """,
)
def q_classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (PR-AUC) of the serving-path quality scorer
    — the class-imbalance-honest companion to q_classifier_auc (ROC-AUC
    is blind to the positive rate; AP is what the quality-filter papers
    report when curated positives are rare). Step-wise AP over distinct
    4-dp score blocks in descending order; both engines sum the SAME
    IEEE doubles in the SAME order (a running-SUM window over the
    model-sized per-score frame, terms written `(np/P)·(ctp/cn)`
    token-for-token on both sides), so the hash gate certifies the whole
    curve computation, not just the headline number."""
    return TX.classifier_pr_auc(_serving_path_scored(spark, sf_dir), "y", "s")


@query(
    "q_classifier_calibration",
    oracle=_SCORED_CTES + """
    , binned AS (
      SELECT LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin, y,
             CAST(ROUND(s * 10000) AS BIGINT) AS sm
      FROM scored
    )
    SELECT bin, COUNT(*) AS n,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(sm) AS DOUBLE) / (COUNT(*) * 10000.0), 6)
             AS mean_score,
           ROUND(CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pos_rate
    FROM binned GROUP BY bin
    """,
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table for the serving-path scorer: 10 score
    bins × (count, positives, mean predicted score, empirical positive
    rate) — the calibration check that tells a pipeline whether its
    quality scores can be thresholded as probabilities. Bin means of
    double scores would be summation-order-dependent, so the operator
    sums integer 4-dp score units (the serving path's own quantization)
    and divides once — exact on both engines by construction."""
    return TX.classifier_calibration(
        _serving_path_scored(spark, sf_dir), "y", "s", num_bins=10
    )


@query(
    "q_quality_classifier_train",
    oracle="""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), feats AS (
      SELECT doc_id, ws[i] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS i FROM w)
      UNION ALL
      SELECT doc_id, ws[i] || '_' || ws[i + 1] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)
    ), fcnt AS (
      SELECT doc_id,
             CAST(CONCAT('0x', SUBSTR(MD5('w:' || f), 1, 8)) AS BIGINT) % 1024
               AS bucket,
             COUNT(*) AS cnt
      FROM feats GROUP BY doc_id, bucket
    ), ftot AS (
      SELECT doc_id, SUM(cnt) AS nf FROM fcnt GROUP BY doc_id
    ), fb AS MATERIALIZED (
      -- normalized counts quantized to integer micro-units: every gradient
      -- below is an exact integer sum (order-free on both engines)
      SELECT f.doc_id, f.bucket,
             CAST(ROUND(ROUND(f.cnt * 1.0 / t.nf, 6) * 1000000) AS BIGINT) AS fm
      FROM fcnt f JOIN ftot t USING (doc_id)
    ), labels AS MATERIALIZED (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
    ), nn AS (SELECT COUNT(*) * 1.0 AS n FROM labels),
    -- GD iteration 1: w0 = 0, bias0 = 0 -> p = 0.5 for every document
    pm1 AS MATERIALIZED (
      SELECT doc_id, CAST(ROUND(ROUND(0.5 - y, 6) * 1000000) AS BIGINT) AS pm
      FROM labels
    ), w1 AS MATERIALIZED (
      SELECT r.range AS bucket,
             ROUND(0.0 - 5.0 * (COALESCE(g.gm, 0) / 1000000000000.0) / nn.n, 6)
               AS wv
      FROM RANGE(0, 1024) r
      LEFT JOIN (SELECT f.bucket, SUM(f.fm * p.pm) AS gm
                 FROM fb f JOIN pm1 p USING (doc_id) GROUP BY f.bucket) g
        ON g.bucket = r.range
      CROSS JOIN nn
    ), b1 AS (
      SELECT ROUND(0.0 - 5.0 * (SUM(pm) / 1000000.0) / (SELECT n FROM nn), 6) AS b
      FROM pm1
    ),
    -- GD iteration 2
    z2 AS (
      SELECT f.doc_id,
             SUM(f.fm * CAST(ROUND(w1.wv * 1000000) AS BIGINT))
               / 1000000000000.0 AS z
      FROM fb f JOIN w1 USING (bucket) GROUP BY f.doc_id
    ), pm2 AS MATERIALIZED (
      SELECT l.doc_id,
             CAST(ROUND(ROUND(1.0 / (1.0 + EXP(-(COALESCE(z2.z, 0.0) + b1.b)))
                              - l.y, 6) * 1000000) AS BIGINT) AS pm
      FROM labels l LEFT JOIN z2 ON l.doc_id = z2.doc_id CROSS JOIN b1
    ), w2 AS MATERIALIZED (
      SELECT w1.bucket,
             ROUND(w1.wv - 5.0 * (COALESCE(g.gm, 0) / 1000000000000.0) / nn.n, 6)
               AS wv
      FROM w1
      LEFT JOIN (SELECT f.bucket, SUM(f.fm * p.pm) AS gm
                 FROM fb f JOIN pm2 p USING (doc_id) GROUP BY f.bucket) g
        ON g.bucket = w1.bucket
      CROSS JOIN nn
    ), b2 AS (
      SELECT ROUND(b1.b - 5.0 * (SUM(pm) / 1000000.0) / (SELECT n FROM nn), 6)
               AS b
      FROM pm2 CROSS JOIN b1 GROUP BY b1.b
    ), zf AS (
      SELECT f.doc_id,
             SUM(f.fm * CAST(ROUND(w2.wv * 1000000) AS BIGINT))
               / 1000000000000.0 AS z
      FROM fb f JOIN w2 USING (bucket) GROUP BY f.doc_id
    )
    SELECT l.doc_id, l.y AS label,
           ROUND(1.0 / (1.0 + EXP(-(COALESCE(zf.z, 0.0) + b2.b))), 4)
             AS clf_score
    FROM labels l LEFT JOIN zf ON l.doc_id = zf.doc_id CROSS JOIN b2
    """,
)
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING the quality classifier, not just serving it — the public
    recipe behind classifier-based data selection (DCLM-baseline's fastText
    quality filter, FineWeb-Edu's edu-score classifier): full-batch logistic
    regression over mean-pooled hashed unigram+bigram features (1024
    buckets), 2 gradient-descent iterations at lr=5 on a language-derived
    binary label (en vs rest — the stand-in for an LLM-graded quality
    label), then one scoring sweep with the learned weights.

    The ORACLE REPLAYS TRAINING ITERATION-FOR-ITERATION: fracs and per-doc
    residuals are quantized to integer micro-units before every corpus-side
    sum (gradients are exact integers, order-free on both engines — the
    dsir_importance_weights determinism contract applied to a training
    loop), weights round to 6 dp per step, so Spark and DuckDB walk the
    identical trajectory and the final per-doc scores hash-match. Each GD
    iteration is one broadcast join + two keyed aggregates over the
    checkpointed token-scale feature frame; the model (1024 weights + bias)
    is the only thing the driver ever holds."""
    t = load_tables(spark, sf_dir, ["documents"])
    # when/otherwise (NOT a bare boolean cast): NULL lang must label 0 like
    # the oracle's CASE, and train_hashed_classifier raises on NULL labels
    docs = t["documents"].select(
        "doc_id", "text",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    # return_feats/feats (r13): the scoring sweep reuses training's
    # checkpointed feature frame instead of re-featurizing the corpus —
    # identical micro-unit fracs by construction, one full corpus pass
    # saved (the featurize is the recipe's most expensive stage)
    wts, bias, feats = TX.train_hashed_classifier(
        docs, "text", "doc_id", "label",
        num_buckets=1024, iterations=2, lr=5.0, seed="w", return_feats=True,
    )
    out = TX.score_hashed_classifier(
        docs, "text", "doc_id", wts, bias, num_buckets=1024, seed="w",
        feats=feats,
    )
    return out.select("doc_id", "label", "clf_score")


@query(
    "q_classifier_eval",
    oracle="""
    WITH docs2 AS (
      SELECT doc_id, text,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CASE WHEN SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '19999999'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ), w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM docs2 WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), feats AS (
      SELECT doc_id, ws[i] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS i FROM w)
      UNION ALL
      SELECT doc_id, ws[i] || '_' || ws[i + 1] AS f
      FROM (SELECT doc_id, ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)
    ), fcnt AS (
      SELECT doc_id,
             CAST(CONCAT('0x', SUBSTR(MD5('w:' || f), 1, 8)) AS BIGINT) % 1024
               AS bucket,
             COUNT(*) AS cnt
      FROM feats GROUP BY doc_id, bucket
    ), ftot AS (
      SELECT doc_id, SUM(cnt) AS nf FROM fcnt GROUP BY doc_id
    ), fb AS MATERIALIZED (
      SELECT f.doc_id, f.bucket,
             CAST(ROUND(ROUND(f.cnt * 1.0 / t.nf, 6) * 1000000) AS BIGINT) AS fm
      FROM fcnt f JOIN ftot t USING (doc_id)
    ), labels AS MATERIALIZED (
      -- training sees ONLY the train split; test docs contribute no
      -- gradient (the held-out contract)
      SELECT doc_id, y FROM docs2 WHERE split = 'train'
    ), nn AS (SELECT COUNT(*) * 1.0 AS n FROM labels),
    pm1 AS MATERIALIZED (
      SELECT doc_id, CAST(ROUND(ROUND(0.5 - y, 6) * 1000000) AS BIGINT) AS pm
      FROM labels
    ), w1 AS MATERIALIZED (
      SELECT r.range AS bucket,
             ROUND(0.0 - 5.0 * (COALESCE(g.gm, 0) / 1000000000000.0) / nn.n, 6)
               AS wv
      FROM RANGE(0, 1024) r
      LEFT JOIN (SELECT f.bucket, SUM(f.fm * p.pm) AS gm
                 FROM fb f JOIN pm1 p USING (doc_id) GROUP BY f.bucket) g
        ON g.bucket = r.range
      CROSS JOIN nn
    ), b1 AS (
      SELECT ROUND(0.0 - 5.0 * (SUM(pm) / 1000000.0) / (SELECT n FROM nn), 6) AS b
      FROM pm1
    ), z2 AS (
      SELECT f.doc_id,
             SUM(f.fm * CAST(ROUND(w1.wv * 1000000) AS BIGINT))
               / 1000000000000.0 AS z
      FROM fb f JOIN w1 USING (bucket) GROUP BY f.doc_id
    ), pm2 AS MATERIALIZED (
      SELECT l.doc_id,
             CAST(ROUND(ROUND(1.0 / (1.0 + EXP(-(COALESCE(z2.z, 0.0) + b1.b)))
                              - l.y, 6) * 1000000) AS BIGINT) AS pm
      FROM labels l LEFT JOIN z2 ON l.doc_id = z2.doc_id CROSS JOIN b1
    ), w2 AS MATERIALIZED (
      SELECT w1.bucket,
             ROUND(w1.wv - 5.0 * (COALESCE(g.gm, 0) / 1000000000000.0) / nn.n, 6)
               AS wv
      FROM w1
      LEFT JOIN (SELECT f.bucket, SUM(f.fm * p.pm) AS gm
                 FROM fb f JOIN pm2 p USING (doc_id) GROUP BY f.bucket) g
        ON g.bucket = w1.bucket
      CROSS JOIN nn
    ), b2 AS (
      SELECT ROUND(b1.b - 5.0 * (SUM(pm) / 1000000.0) / (SELECT n FROM nn), 6)
               AS b
      FROM pm2 CROSS JOIN b1 GROUP BY b1.b
    ), zf AS (
      SELECT f.doc_id,
             SUM(f.fm * CAST(ROUND(w2.wv * 1000000) AS BIGINT))
               / 1000000000000.0 AS z
      FROM fb f JOIN w2 USING (bucket) GROUP BY f.doc_id
    ), scored AS (
      -- score the HELD-OUT split with the learned model
      SELECT d.doc_id, d.y,
             ROUND(1.0 / (1.0 + EXP(-(COALESCE(zf.z, 0.0) + b2.b))), 4) AS s
      FROM docs2 d LEFT JOIN zf ON d.doc_id = zf.doc_id CROSS JOIN b2
      WHERE d.split = 'test'
    ), grid AS (
      -- DOUBLE[] cast: a bare decimal list UNNESTs as DECIMAL(2,1), which
      -- the portability gate forbids (Arrow fetches decimals differently
      -- from fetchall) and which would also compare 's >= threshold' in
      -- decimal space instead of the engine's double space
      SELECT UNNEST(CAST([0.3, 0.4, 0.5, 0.6, 0.7] AS DOUBLE[])) AS threshold
    ), agg AS (
      SELECT g.threshold,
             SUM(CASE WHEN s >= g.threshold AND y = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN s >= g.threshold AND y = 0 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN s < g.threshold AND y = 1 THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN s < g.threshold AND y = 0 THEN 1 ELSE 0 END) AS tn
      FROM scored CROSS JOIN grid g GROUP BY g.threshold
    )
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CASE WHEN tp + fp > 0 THEN ROUND(tp * 1.0 / (tp + fp), 6) END
             AS prec,
           CASE WHEN tp + fn > 0 THEN ROUND(tp * 1.0 / (tp + fn), 6) END
             AS rec,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN ROUND(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
    FROM agg
    """,
)
def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the trained quality classifier — the table
    the FineWeb-Edu recipe reads to choose its filter threshold: a
    deterministic content-hash 90/10 split (train_test_split — same md5
    contract as q_train_test_split), full-batch GD training on the train
    split ONLY (train_hashed_classifier, 2 iterations at lr=5 over 1024
    hashed buckets), one scoring sweep over the held-out split, then a
    5-point threshold sweep of confusion counts + precision/recall/F1
    (evaluate_classifier_thresholds, one pass over the scored frame).

    The ORACLE REPLAYS THE WHOLE PROTOCOL — split, training trajectory
    (integer-micro-unit gradients, the q_quality_classifier_train
    contract), held-out scoring, and the eval table, whose ratios both
    engines compute from the same integer counts."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select(
        "doc_id", "text",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    split = SA.train_test_split(docs, "doc_id", 0.1, seed="split")
    train = split.filter(F.col("split") == "train")
    test = split.filter(F.col("split") == "test")
    # featurize ONCE over the full corpus, filter per split (r14, the r13
    # verdict's deferred item): train-side and held-out featurizes were two
    # separate corpus passes; per-doc fracs are independent across docs, so
    # filtering a full-corpus feature frame by the SAME content-hash split
    # predicate is identical to featurizing each split — one explode/agg
    # pass instead of two, one checkpoint instead of two
    mu = 10**6
    full_feats = stage(
        TX.hashed_feature_fracs(docs, "text", "doc_id", 1024, "w")
        .withColumn("__fm", F.round(F.col("frac") * mu).cast("long")),
        "classifier_feats",
    )
    is_test = SA.hash_bucket(F.col("doc_id"), "split") < F.lit(
        SA.fraction_threshold(0.1)
    )
    wts, bias = TX.train_hashed_classifier(
        train, "text", "doc_id", "label",
        num_buckets=1024, iterations=2, lr=5.0, seed="w",
        feats=full_feats.filter(~is_test),
    )
    scored = TX.score_hashed_classifier(
        test, "text", "doc_id", wts, bias, num_buckets=1024, seed="w",
        feats=full_feats.filter(is_test),
    )
    return TX.evaluate_classifier_thresholds(
        scored, "label", "clf_score", [0.3, 0.4, 0.5, 0.6, 0.7]
    )


@query(
    "q_semantic_dedup_kmeans",
    oracle="""
    WITH RECURSIVE seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ), dist AS (
      SELECT e.vec_id, s.cid,
             LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                i -> (e.embedding[i]::DOUBLE - s.cv[i])
                   * (e.embedding[i]::DOUBLE - s.cv[i]))) AS d
      FROM embeddings e CROSS JOIN seeds s
    ), asg AS (
      SELECT vec_id, cid AS cluster_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
      FROM dist
    ), clustered AS (
      SELECT a.vec_id, a.cluster_id, e.embedding::DOUBLE[] AS v
      FROM asg a JOIN embeddings e USING (vec_id) WHERE a.rn = 1
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM clustered a JOIN clustered b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) >= 0.3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.id, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src
    ), comp AS (
      SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id
    )
    SELECT vec_id, cluster_id FROM clustered
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE c <> id)
    """,
)
def q_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-blocked semantic dedup — the
    density-adaptive third blocking strategy next to caller-blocks
    (q_embedding_neardup) and sign-LSH buckets (q_embedding_lsh_cc_dedup).
    Registered with iterations=0 (assignment to the 8 lowest-id seed
    vectors) so the oracle replays the exact argmin in closed form —
    verified bit-exact against DuckDB's identical-order fold (the
    LIST_TRANSFORM/GENERATE_SERIES sum matches Spark's zip_with/aggregate
    left fold); Lloyd-refined clustering (iterations>0) is pinned by
    tests/test_dataops.py instead, since replaying float mean updates
    across engines has no exactness story. Within-cluster pairs at cosine
    >= 0.3 collapse by connected components to the min-id survivor."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    # the pair stage is the operator's gram kernel (sims rounded to 4,
    # verified BIT-EQUAL to the expression join at sf0.001/0.01/0.1); the
    # oracle-exactness-critical stage is the ASSIGNMENT, which stays on the
    # plan-embedded expression argmin at 8 centroids
    out = S.kmeans_semantic_dedup(
        t["embeddings"], "embedding", "vec_id", 0.3, n_clusters=8, iterations=0
    )
    return out.select("vec_id", "cluster_id")


@query(
    "q_domain_mixture_sample",
    oracle="""
    WITH c AS (
      SELECT source, COUNT(*)::DOUBLE AS n FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n) AS nn, SUM(POWER(n, 0.5)) AS s FROM c
    ), r AS (
      SELECT source,
             ROUND(LEAST(1.0, 0.5 * nn * POWER(n, 0.5) / (s * n)), 6) AS rate
      FROM c, tot
    )
    SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
    WHERE CAST(CONCAT('0x', SUBSTR(MD5('13:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)
        < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
    """,
)
def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain remixing (Conneau & Lample 2019 §3.1 /
    mT5): per-source keep rates DERIVED from the corpus's own counts —
    p_d ∝ n_d^0.5 scaled to a 50% total budget — then the standard
    content-hash filter. Unlike q_stratified_sample the rates are data-
    dependent, so the oracle recomputes the same count → power → round(6)
    → floor-to-integer-threshold ladder; rounding the rate before the
    floor is what makes pow()/sum-order ulp noise unobservable."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.domain_mixture_sample(
        t["documents"], "doc_id", "source", temperature=0.5, budget_frac=0.5, seed=13
    ).select("doc_id", "source")


@query(
    "q_duplicate_spans",
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, SUBSTRING(text, 1, 120)
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS w
      FROM aug
    ), grams AS (
      SELECT doc_id, i - 1 AS pos, LEN(w) AS n_tok,
             ARRAY_TO_STRING(w[i:i+4], ' ') AS g
      FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 4, 0))) AS t(i)
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ), dpos AS (
      SELECT doc_id, pos, n_tok,
             MAX(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM grams WHERE g IN (SELECT g FROM dup)
    ), isl AS (
      SELECT doc_id, pos, n_tok,
             SUM(CASE WHEN pos >= COALESCE(prev_end, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM dpos
    ), per_island AS (
      SELECT doc_id, island, COUNT(*) AS grams,
             MAX(pos + 5) - MIN(pos) AS covered
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, CAST(SUM(grams) AS BIGINT) AS dup_gram_count,
             COUNT(*) AS dup_span_count,
             CAST(SUM(covered) AS BIGINT) AS dup_token_count
      FROM per_island GROUP BY doc_id
    )
    SELECT a.doc_id,
           CASE WHEN REGEXP_REPLACE(a.text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                ELSE LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(a.text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_tokens,
           COALESCE(dup_gram_count, 0) AS dup_gram_count,
           COALESCE(dup_span_count, 0) AS dup_span_count,
           COALESCE(dup_token_count, 0) AS dup_token_count
    FROM aug a LEFT JOIN per_doc USING (doc_id)
    """,
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup stats (Lee et al. 2022
    ExactSubstr, as 5-token grams): planted prefix copies (doc_id+100000,
    first 120 chars) share long verbatim spans with their originals;
    overlapping duplicated gram intervals merge into maximal spans. All
    outputs are integers, so the oracle replay is hash-exact; the oracle
    mirrors the gram/window/island pipeline in SQL."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.substring("text", 1, 120).alias("text"),
        )
    )
    return D.duplicate_span_stats(aug, "text", "doc_id", k=5)


@query(
    "q_bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
      FROM documents
    ), wf AS (
      SELECT word, COUNT(*) AS freq
      FROM w, UNNEST(ws) AS t(word) GROUP BY word
    ), pairs AS (
      SELECT SUBSTRING(word, i, 1) AS l, SUBSTRING(word, i + 1, 1) AS r, freq
      FROM wf, UNNEST(GENERATE_SERIES(1, LEN(word) - 1)) AS t(i)
      WHERE LEN(word) >= 2
    ), pc AS (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS pair_count FROM pairs GROUP BY l, r
    )
    SELECT l AS left, r AS right, pair_count, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC, l, r) AS rank
      FROM pc
    ) WHERE rank <= 30
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training round's pair statistics (Sennrich et al. 2016): the
    corpus compresses to a (word, freq) table in ONE aggregation, then
    adjacent character-pair counts weighted by word frequency rank the
    merge candidates. Top-30 pairs with a total-order tiebreak. The merge
    APPLICATION half (bpe_apply_merge) is pinned by unit test — its greedy
    left-to-right fold has no DuckDB twin."""
    t = load_tables(spark, sf_dir, ["documents"])
    wf = TX.word_frequency_table(t["documents"], "text")
    return TX.bpe_pair_counts(wf, top_k=30)


def _bpe_round_ctes(k: int) -> str:
    """One count→argmax→apply round of the BPE training oracle. Symbols are
    replayed as a wrapped string '<s1><s2>...' so DuckDB's left-to-right
    non-overlapping REPLACE reproduces bpe_apply_merge's greedy fold
    exactly ('<a><a><a>' + merge(a,a) → '<aa><a>', verified both ways);
    the wrapping is unambiguous because the fixture corpus contains no
    '<'/'>' (an ORACLE-fixture constraint only — the Spark operator keeps
    symbols as a real array and has no charset constraint)."""
    return f"""
    p{k} AS (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
        SELECT syms[i] AS l, syms[i + 1] AS r, freq FROM (
          SELECT freq, REGEXP_EXTRACT_ALL(rep, '<([^<>]*)>', 1) AS syms FROM s{k}
        ), UNNEST(GENERATE_SERIES(1, LEN(syms) - 1)) AS t(i)
      ) GROUP BY l, r
    ), m{k} AS (
      SELECT l, r, pair_count FROM p{k} ORDER BY pair_count DESC, l, r LIMIT 1
    ), s{k + 1} AS (
      SELECT freq,
             REPLACE(rep, '<' || m{k}.l || '><' || m{k}.r || '>',
                     '<' || m{k}.l || m{k}.r || '>') AS rep
      FROM s{k}, m{k}
    )"""


@query(
    "q_bpe_train_rounds",
    oracle="""
    WITH w AS (
      SELECT CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
      FROM documents
    ), wf AS (
      SELECT word, COUNT(*) AS freq
      FROM w, UNNEST(ws) AS t(word) GROUP BY word
    ), s1 AS (
      SELECT freq, '<' || ARRAY_TO_STRING(STRING_SPLIT(word, ''), '><') || '>' AS rep
      FROM wf
    ),"""
    + ",".join(_bpe_round_ctes(k) for k in (1, 2, 3))
    + """
    SELECT 1 AS round, l AS left, r AS right, pair_count FROM m1
    UNION ALL SELECT 2, l, r, pair_count FROM m2
    UNION ALL SELECT 3, l, r, pair_count FROM m3
    """,
)
def q_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE composed BPE training rounds (Sennrich et al. 2016 §3.2 trains
    to a merge budget, not a single round): textstats.train_bpe alternates
    pair counting with greedy merge application over the vocabulary frame,
    so round 2's counts see round 1's merged symbols — the composition is
    what q_bpe_pair_counts (one round) could not verify. The oracle replays
    all three count→argmax→apply rounds in chained CTEs; the merge lists
    must agree pair-for-pair AND count-for-count, so a divergence in either
    half of any round (or in the tie-break order) breaks the hash."""
    t = load_tables(spark, sf_dir, ["documents"])
    wf = TX.word_frequency_table(t["documents"], "text")
    return TX.bpe_train_merges(wf, n_merges=3)


def _bpe_round_ctes_worded(k: int) -> str:
    """q_bpe_encode's variant of _bpe_round_ctes: identical count→argmax→
    apply round, but the s{k} CTEs CARRY THE WORD so the final encoded
    vocabulary can join back to the corpus (the training oracle only needs
    (freq, rep))."""
    return f"""
    p{k} AS (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
        SELECT syms[i] AS l, syms[i + 1] AS r, freq FROM (
          SELECT freq, REGEXP_EXTRACT_ALL(rep, '<([^<>]*)>', 1) AS syms FROM s{k}
        ), UNNEST(GENERATE_SERIES(1, LEN(syms) - 1)) AS t(i)
      ) GROUP BY l, r
    ), m{k} AS (
      SELECT l, r FROM p{k} ORDER BY pair_count DESC, l, r LIMIT 1
    ), s{k + 1} AS (
      SELECT word, freq,
             REPLACE(rep, '<' || m{k}.l || '><' || m{k}.r || '>',
                     '<' || m{k}.l || m{k}.r || '>') AS rep
      FROM s{k}, m{k}
    )"""


@query(
    "q_bpe_encode",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
      FROM documents
    ), wf AS (
      SELECT word, COUNT(*) AS freq
      FROM d, UNNEST(ws) AS t(word) GROUP BY word
    ), s1 AS (
      SELECT word, freq,
             '<' || ARRAY_TO_STRING(STRING_SPLIT(word, ''), '><') || '>' AS rep
      FROM wf
    ),"""
    + ",".join(_bpe_round_ctes_worded(k) for k in (1, 2, 3))
    + """
    , tok AS (
      SELECT doc_id, ws[i] AS word, i
      FROM d, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS t(i)
      WHERE LEN(ws) > 0
    ), enc AS (
      SELECT doc_id, i, REGEXP_EXTRACT_ALL(rep, '<([^<>]*)>', 1) AS syms
      FROM tok JOIN s4 USING (word)
    )
    SELECT doc_id,
           CAST(SUM(LEN(syms)) AS INT) AS n_tokens,
           STRING_AGG(ARRAY_TO_STRING(syms, ' '), ' ' ORDER BY i) AS tokens_joined
    FROM enc GROUP BY doc_id
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with a freshly TRAINED 3-merge BPE model — the
    full tokenizer lifecycle in one query (train_bpe learns the merges,
    bpe_encode applies them per document). The oracle replays the three
    training rounds (same wrapped-string CTE machinery as
    q_bpe_train_rounds, carrying the word), applies the final vocabulary's
    symbol sequences to each document's positioned words, and re-assembles
    the per-doc token stream — so a divergence ANYWHERE (training argmax,
    greedy merge fold, word-order re-assembly, token counting) breaks the
    hash. Tokens contain no whitespace (words() splits on it), so the
    space-joined token stream is an unambiguous equality surface."""
    t = load_tables(spark, sf_dir, ["documents"])
    wf = TX.word_frequency_table(t["documents"], "text")
    merges, _ = TX.train_bpe(wf, n_merges=3)
    enc = TX.bpe_encode(
        t["documents"], "text", "doc_id", [(l, r) for l, r, _ in merges]
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join("tokens", " ").alias("tokens_joined"),
    )


@query(
    "q_domain_mixture_upsample",
    oracle="""
    WITH c AS (
      SELECT source, COUNT(*)::DOUBLE AS n FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n) AS nn, SUM(POWER(n, 0.5)) AS s FROM c
    ), r AS (
      SELECT source,
             ROUND(1.0 * nn * POWER(n, 0.5) / (s * n), 6) AS rate
      FROM c, tot
    ), d AS (
      SELECT doc_id, source,
             CAST(FLOOR(rate) AS BIGINT)
             + CASE WHEN CAST(CONCAT('0x',
                      SUBSTR(MD5('17:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    < CAST(FLOOR((rate - FLOOR(rate)) * 4294967296.0) AS BIGINT)
                    THEN 1 ELSE 0 END AS nc
      FROM documents JOIN r USING (source)
    )
    SELECT doc_id, source, i AS epoch
    FROM d, UNNEST(GENERATE_SERIES(0, nc - 1)) AS t(i)
    WHERE nc > 0
    """,
)
def q_domain_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature remixing WITH repeat epochs: at temperature 0.5 and a
    100% budget, dominant sources downsample below 1 copy/row while scarce
    sources oversample above it (floor(rate) copies + one more by hash) —
    expected copies per row is exactly rate_d. Epoch indices keep copies
    distinguishable downstream. The operator filters zero-copy rows BEFORE
    the sequence explode (Spark's sequence(0,-1) would descend, not
    empty)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return SA.domain_mixture_upsample(
        t["documents"], "doc_id", "source", temperature=0.5, budget_frac=1.0, seed=17
    ).select("doc_id", "source", "epoch")


@query(
    "q_curation_mix",
    oracle="""
    WITH aug AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000, SUBSTRING(text, 1, 120), source
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id,
             CASE WHEN REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS w
      FROM aug
    ), grams AS (
      SELECT doc_id, i - 1 AS pos, ARRAY_TO_STRING(w[i:i+4], ' ') AS g
      FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 4, 0))) AS t(i)
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ), dpos AS (
      SELECT doc_id, pos,
             MAX(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM grams WHERE g IN (SELECT g FROM dup)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN pos >= COALESCE(prev_end, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM dpos
    ), per_island AS (
      SELECT doc_id, island, MAX(pos + 5) - MIN(pos) AS covered
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, SUM(covered) AS dup_tok FROM per_island GROUP BY doc_id
    ), survivors AS (
      SELECT a.doc_id, a.source,
             CASE WHEN REGEXP_REPLACE(a.text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(a.text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_tok,
             COALESCE(p.dup_tok, 0) AS dup_tok
      FROM aug a LEFT JOIN per_doc p USING (doc_id)
    ), clean AS (
      -- keep docs whose duplicated-token share is <= 50%
      SELECT doc_id, source FROM survivors
      WHERE n_tok > 0 AND dup_tok * 2 <= n_tok
    ), c AS (
      SELECT source, COUNT(*)::DOUBLE AS n FROM clean GROUP BY source
    ), tot AS (
      SELECT SUM(n) AS nn, SUM(POWER(n, 0.5)) AS s FROM c
    ), r AS (
      SELECT source,
             ROUND(LEAST(1.0, 0.6 * nn * POWER(n, 0.5) / (s * n)), 6) AS rate
      FROM c, tot
    ), mixed AS (
      SELECT d.doc_id, d.source FROM clean d JOIN r USING (source)
      WHERE CAST(CONCAT('0x', SUBSTR(MD5('23:' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT)
          < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
    )
    SELECT doc_id, source,
           CASE WHEN SUBSTR(MD5('29:' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
                THEN 'test' ELSE 'train' END AS split
    FROM mixed
    """,
)
def q_curation_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 composed curation path: cross-doc exact-substring span stats
    gate out heavily-duplicated docs (planted prefix copies push their
    originals over the 50% duplicated-token share), the SURVIVORS' domain
    counts drive temperature-0.5 mixture rates (downstream of dedup, as a
    real mix is computed), and the kept set gets a leakage-safe hash
    split. Every stage reuses an independently-oracled operator; the
    composed oracle chains their CTEs so stage-boundary drift (e.g. the
    mixture seeing pre-dedup counts) is caught, not assumed away."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text", "source")
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.substring("text", 1, 120).alias("text"),
            F.col("source"),
        )
    )
    stats = D.duplicate_span_stats(aug, "text", "doc_id", k=5)
    # stage boundary: the mixture sampler consumes `clean` TWICE (the
    # domain-count aggregate and the row filter), and without a
    # materialization each consumer re-derives the entire span-stats
    # subtree — the plan audit counted 16 documents scans. The survivor
    # set is (id, source)-narrow, so one eager checkpoint collapses the
    # replay to the operator's own scans, exactly what a real pipeline
    # does by writing the cleaned batch.
    clean = stage(
        aug.join(stats, "doc_id")
        .filter((F.col("n_tokens") > 0) & (F.col("dup_token_count") * 2 <= F.col("n_tokens")))
        .select("doc_id", "source"),
        "mix_clean",
    )
    mixed = SA.domain_mixture_sample(
        clean, "doc_id", "source", temperature=0.5, budget_frac=0.6, seed=23
    )
    return SA.train_test_split(mixed, "doc_id", 0.1, seed=29).select(
        "doc_id", "source", "split"
    )


_DSIR_FEATS_SQL = """
    d AS MATERIALIZED (
      SELECT doc_id, lang,
             STRING_SPLIT_REGEX(REGEXP_REPLACE(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
      FROM documents
      WHERE REGEXP_REPLACE(text, '^\\s+|\\s+$', '', 'g') != ''
    ), grams AS (
      SELECT doc_id, lang, UNNEST(ws) AS gram FROM d
      UNION ALL
      SELECT doc_id, lang,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ws)),
                                   j -> ws[j] || ' ' || ws[j + 1])) AS gram
      FROM d WHERE LEN(ws) >= 2
    ), feats AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(CONCAT('0x', SUBSTR(MD5('0:' || gram), 1, 8)) AS BIGINT) % 4096
               AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, lang, bucket
    ), tc AS MATERIALIZED (
      SELECT bucket, SUM(cnt) AS ct FROM feats WHERE lang = 'en' GROUP BY bucket
    ), sc AS MATERIALIZED (
      SELECT bucket, SUM(cnt) AS cs FROM feats GROUP BY bucket
    ), tt AS (SELECT SUM(ct) AS tt FROM tc),
    ts AS (SELECT SUM(cs) AS ts FROM sc),
    ratios AS (
      SELECT r.range AS bucket,
             ROUND(LN((COALESCE(tc.ct, 0) + 1.0) / (tt.tt + 4096.0))
                   - LN((COALESCE(sc.cs, 0) + 1.0) / (ts.ts + 4096.0)), 6)
               AS log_ratio
      FROM RANGE(0, 4096) r
      LEFT JOIN tc ON tc.bucket = r.range
      LEFT JOIN sc ON sc.bucket = r.range
      CROSS JOIN tt CROSS JOIN ts
    ), weights AS (
      SELECT doc.doc_id, doc.lang,
             COALESCE(w.log_weight, 0.0) AS log_weight
      FROM documents doc
      LEFT JOIN (
        -- exact integer micro-unit sum (order-free): float SUM order
        -- differs between engines and flipped 4th-decimal boundary rows
        SELECT f.doc_id,
               ROUND(SUM(f.cnt * CAST(ROUND(r.log_ratio * 1000000) AS BIGINT))
                     / 1000000.0, 6) AS log_weight
        FROM feats f JOIN ratios r USING (bucket)
        GROUP BY f.doc_id
      ) w USING (doc_id)
    )
"""


@query(
    "q_dsir_weights",
    oracle="WITH " + _DSIR_FEATS_SQL + """
    SELECT doc_id, lang, log_weight FROM weights
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    features (4096 buckets), add-1-smoothed bucket LMs for the English
    subset (target) vs the whole pool (source), per-doc log importance
    weight = sum of occurrence-weighted bucket log-ratios. English docs
    should skew positive, others negative — the 'make the mix look like
    the target' data-selection signal. One corpus featurize pass per side,
    a 4096-row broadcast join, one doc-keyed sum."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text", "lang")
    # target_flag (r14): the English target is a predicate-subset of the
    # pool, so its LM counts ride the pool's ONE featurize pass (a carried
    # boolean + joint aggregate) instead of a second explode+md5 pass over
    # the en subset — identical integer counts, identical ratios/weights
    out = IMP.dsir_importance_weights(
        docs, "text", "doc_id", None, target_flag=F.col("lang") == "en",
        num_buckets=4096, n_max=2, alpha=1.0, seed=0,
    )
    return out.select("doc_id", "lang", "log_weight")


@query(
    "q_dsir_resample",
    oracle="WITH " + _DSIR_FEATS_SQL + """
    SELECT doc_id, lang, log_weight FROM weights
    ORDER BY log_weight
             - LN(-LN((CAST(CONCAT('0x', SUBSTR(MD5('31:' || CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) + 0.5) / 4294967296.0))
             DESC,
             doc_id
    LIMIT 120
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's resampling step: Gumbel-top-k over the importance weights
    (sampling without replacement proportional to exp(log_weight)), with
    the Gumbel draw derived from the content hash so the selected subset
    reproduces across runs, engines, and partitionings. Compiles to
    TakeOrderedAndProject — per-partition top-k heap, no global sort."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text", "lang")
    weighted = IMP.dsir_importance_weights(
        docs, "text", "doc_id", None, target_flag=F.col("lang") == "en",
        num_buckets=4096, n_max=2, alpha=1.0, seed=0,  # one-pass target (r14)
    )
    return IMP.dsir_resample(weighted, "doc_id", "log_weight", 120, seed=31).select(
        "doc_id", "lang", "log_weight"
    )


@query("q_incremental_dedup_grouped", oracle=_INCR_DEDUP_ORACLE)
def q_incremental_dedup_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_incremental_dedup with the signature store staged once
    (``lsh_store``) before batch 2 reads it — the production shape, where
    the grouped store is a persisted table rather than lineage. Same
    fixture and oracle: staging changes where the store is computed, not
    the per-bucket id multisets, so the survivor sets must be identical."""
    return _incremental_dedup_two_batches(
        spark, sf_dir,
        lambda banded: stage(D.group_banded_store(banded, "doc_id"), "lsh_store"),
    )


@query(
    "q_sq8_topk",
    oracle="""
    WITH codes AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding::DOUBLE[],
               x -> CAST(ROUND(x / (LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[], y -> ABS(y))) / 127.0), 0) AS INT)
             )::DOUBLE[] AS c
      FROM embeddings
      -- zero-norm guard mirrored from sq8_topk: a zero vector would divide
      -- by scale 0 here and produce NaN cosines there
      WHERE LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[], y -> ABS(y))) > 0
    ), q AS (
      SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < 20
    ), pairs AS (
      SELECT query_id, codes.vec_id AS neighbor_id,
             LIST_COSINE_SIMILARITY(qc, c) AS sim
      FROM q, codes WHERE codes.vec_id != query_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= 5
    """,
)
def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors over int8-QUANTIZED embeddings for the first 20
    vectors — q_cosine_topk's memory-bound twin. Cosine is scale-invariant,
    so the per-vector quantization scales cancel and the similarity is pure
    integer arithmetic over the code vectors: per-term products ≤ 127² and a
    64-dim dot ≤ 2^20 ≪ 2^53 keep every intermediate EXACT in IEEE double
    regardless of summation order, which is why this oracle can hash-match
    instead of tolerance-match. Recall vs the exact float top-k is pinned in
    tests/test_sampling.py::test_sq8_topk_recall_vs_exact."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    out = S.sq8_topk(emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", 5)
    return out.select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


_UNIMAX_ALLOC_SQL = """
    counts AS (
      SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS n FROM documents GROUP BY lang
    ), sized AS (
      SELECT lang, n, n * 4.0 AS cap,
             ROW_NUMBER() OVER (ORDER BY n * 4.0 ASC, lang ASC) AS r,
             SUM(n * 4.0) OVER (ORDER BY n * 4.0 ASC, lang ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             COUNT(*) OVER () AS L
      FROM counts
    ), flagged AS (
      SELECT *, cap * CAST(L - r + 1 AS DOUBLE) <= 3000000.0 - (cum - cap) AS sat
      FROM sized
    ), lev AS (
      SELECT *,
             SUM(CASE WHEN sat THEN 1 ELSE 0 END) OVER () AS p,
             COALESCE(SUM(CASE WHEN sat THEN cap END) OVER (), 0.0) AS cumsat
      FROM flagged
    ), alloc AS (
      SELECT lang, n, cap,
             CASE WHEN sat THEN cap
                  ELSE (3000000.0 - cumsat) / CAST(L - p AS DOUBLE) END AS a
      FROM lev
    )
"""


@query(
    "q_unimax_allocation",
    oracle="WITH " + _UNIMAX_ALLOC_SQL + """
    SELECT lang, n, cap AS capacity, ROUND(a, 6) AS allocated,
           ROUND(a / n, 6) AS epochs
    FROM alloc
    """,
)
def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax (Chung et al. 2023) char-budget allocation across languages:
    3M-char budget, 4-epoch cap. Tail languages saturate at 4 epochs; the
    leftover budget water-fills uniformly over the rest. Every intermediate
    (char counts, capacities, ordered cumulative sums) is integer-valued in
    double, so both engines compute bit-identical allocations — the one
    division happens on identical operands. The corpus is touched once (the
    per-language char sum); the allocation itself is a two-window pass over
    the language-cardinality frame."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "lang", "n_chars")
    return SA.unimax_allocation(
        docs, "lang", total_budget=3_000_000.0, epoch_cap=4.0, weight_col="n_chars"
    )


@query(
    "q_unimax_sample",
    oracle="WITH " + _UNIMAX_ALLOC_SQL + """
    , rates AS (
      -- mirror the operator exactly: it floors/remainders the ROUNDED
      -- allocation (unimax_allocation's 6-dp output), not the raw level
      SELECT lang,
             CAST(FLOOR(ROUND(a, 6) / n) AS INT) AS fullep,
             ROUND(a, 6) - CAST(FLOOR(ROUND(a, 6) / n) AS DOUBLE) * n AS rem
      FROM alloc
    ), cumdoc AS (
      SELECT d.doc_id, d.lang, d.n_chars, r.fullep, r.rem,
             SUM(CAST(d.n_chars AS DOUBLE)) OVER (
               PARTITION BY d.lang
               ORDER BY SUBSTR(MD5('41:' || CAST(d.doc_id AS VARCHAR)), 1, 8), d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM documents d JOIN rates r ON d.lang = r.lang
    ), nc AS (
      SELECT doc_id, lang, n_chars,
             fullep + CASE WHEN c <= rem THEN 1 ELSE 0 END AS n_copies
      FROM cumdoc
    )
    SELECT doc_id, lang, n_chars, UNNEST(GENERATE_SERIES(0, n_copies - 1)) AS epoch
    FROM nc WHERE n_copies > 0
    """,
)
def q_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized UniMax mix for q_unimax_allocation's budget: each
    language repeats for floor(epochs) full passes plus one partial pass
    admitted in content-hash order (seed 41) up to the leftover budget —
    epoch-capped upsampling without an RNG, reproducible across engines and
    partitionings. One broadcast join + an output-proportional explode + one
    language-keyed window is the whole corpus-side cost."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "lang", "n_chars")
    return SA.unimax_sample(
        docs, "doc_id", "lang", "n_chars",
        total_budget=3_000_000.0, epoch_cap=4.0, seed=41,
    ).select("doc_id", "lang", "n_chars", "epoch")
