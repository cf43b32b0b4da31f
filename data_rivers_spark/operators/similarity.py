"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; sign-LSH bucketing is the
scale path (candidates only within matching hyperplane-sign buckets).

Scale design: queries are broadcast (top-k is usually a small query set
against a huge corpus); the dot product is a zip_with/aggregate expression —
JVM-side, no Python. For billion-vector corpora swap the bucketing for a
trained IVF (centroid assignment), same join shape.
"""

from __future__ import annotations

import math
import random

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_rivers_spark.session import fan_out, stage


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (cast floats upstream)."""
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def l2_normalize(vec: Column) -> Column:
    """Unit-norm a double array; zero vectors pass through unchanged (rather
    than NaN-ing) so downstream dot products stay well-defined."""
    n = norm(vec)
    return F.when(n == 0, vec).otherwise(F.transform(vec, lambda x: x / n))


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 quantization: struct(codes array<int>, scale double)
    with codes = round(x / scale) and scale = max|x| / 127 — the standard
    4×-compression step before shipping embeddings to an ANN index. A zero
    vector gets scale 0 and all-zero codes. Dequantize as code * scale."""
    absmax = F.array_max(F.transform(vec, F.abs))
    scale = absmax / F.lit(127.0)
    codes = F.when(
        absmax == 0, F.transform(vec, lambda x: (x * 0).cast("int"))
    ).otherwise(F.transform(vec, lambda x: F.round(x / scale, 0).cast("int")))
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine: broadcast queries × corpus,
    window row_number per query ordered (sim desc, neighbor id).

    Output: (query_id, neighbor_id, sim, rank)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    )
    pairs = c.crossJoin(q)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("__qv"), F.col("__cv")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k neighbors by cosine over symmetric-int8-QUANTIZED vectors — the
    memory-bound search mode of a 100 TB ANN index. Both sides pass through
    quantize_int8 (codes = round(x / (max|x|/127))), and because cosine is
    scale-invariant the per-vector scales cancel exactly:

        cos(c_q·s_q, c_c·s_c) = (c_q·c_c) / (|c_q|·|c_c|)

    so the similarity is computed on the INTEGER code vectors directly — no
    dequantization, no float loads. At scale the index stores array<tinyint>
    (4× smaller than float32, 8× smaller than the double compute form), the
    hot loop is integer multiply-add (SIMD dot on int8 lanes on a columnar
    engine), and the only floats are one division per candidate pair.
    Numerics are still EXACT in double: per-term products are ≤ 127² and a
    64-dim integer dot is ≤ 2^20 ≪ 2^53, so Spark and any IEEE-double engine
    (the DuckDB oracle) agree bit-for-bit — which is why q_sq8_topk can
    hash-match rather than tolerance-match.

    Same plan shape as cosine_topk (broadcast queries × corpus, per-query
    row_number window): this operator changes the OPERAND WIDTH, not the
    candidate set — compose with signlsh/ivf bucketing for sub-linear
    candidate generation over a quantized index.

    Output: (query_id, neighbor_id, sim, rank) — sim is the quantized
    cosine, within ~1e-3 of the float cosine at 64 dims (recall vs the
    exact top-k is pinned in tests/test_sampling.py.

    Zero-norm vectors are FILTERED from both sides: a zero vector quantizes
    to all-zero codes, cosine would divide 0/0 = NaN, and Spark sorts NaN
    above every double — an unguarded zero corpus row would rank as the #1
    neighbor of every query. No direction → no cosine neighbors, on either
    engine (the DuckDB oracle carries the same zero-norm filter)."""
    nonzero = F.array_max(F.transform(_as_double(F.col(vec_col)), F.abs)) > 0
    qq = quantize_int8(_as_double(F.col(vec_col)))
    q = F.broadcast(
        queries.filter(nonzero).select(
            F.col(id_col).alias("query_id"),
            _as_double(qq["codes"]).alias("__qc"),
        )
    )
    c = corpus.filter(nonzero).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(qq["codes"]).alias("__cc"),
    )
    pairs = c.crossJoin(q)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("__qc"), F.col("__cc")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def signlsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, num_planes: int = 8, dim: int = 64, seed: int = 7
) -> DataFrame:
    """Random-hyperplane sign LSH bucket per vector: bucket = bits of
    sign(v · h_p). Hyperplanes are deterministic (seeded) literal arrays, so
    the same buckets reproduce across runs/engines."""
    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
    # one parsed SQL expression instead of num_planes x dim F.lit Column
    # builds (r13 plan-time audit; same rationale and exact-literal
    # round-trip argument as _assign_to_centroids) — the parsed tree is
    # expression-identical to the old lit(0) + when(dot > 0, 1<<i) chain
    v_sql = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    terms = ["0"]
    for i, p in enumerate(planes):
        plane = "array(" + ",".join(_dlit(x) for x in p) + ")"
        d = (
            f"aggregate(zip_with({v_sql}, {plane}, (x, y) -> x * y), "
            "0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)")
    return df.withColumn("bucket", F.expr(" + ".join(terms)))


def signlsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    num_planes: int | None = None,
    dim: int = 64,
    exclude_self: bool = True,
    multiprobe: bool = True,
    target_bucket_rows: int = 1024,
    corpus_count: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    (plus, with multiprobe, every bucket one sign-flip away — the standard
    recall lever: P(≤1 plane disagrees) ≫ P(all agree) for mid-similarity
    neighbors).

    Scale: the corpus shuffles once on the 4-byte bucket key; the query side
    (broadcast) fans out ×(num_planes+1) probes. A FIXED plane count makes
    expected bucket occupancy corpus/2^planes — i.e. per-probe verify cost
    grows LINEARLY with the corpus (the 1024x scaling octave measured the
    fixed-depth form at a 15.9 last-octave ratio: 6.5M vectors / 16 buckets
    flooded the verifier). ``num_planes=None`` (the default) therefore
    AUTO-DEPTHS: one corpus count() picks planes = ceil(log2(n /
    target_bucket_rows)) clamped to [4, 24], holding expected occupancy at
    ~``target_bucket_rows`` regardless of corpus size — constant per-probe
    cost, the plane-count analogue of IVF's sqrt(n) cell rule. Honest
    tradeoff: deeper single-table buckets LOWER per-neighbor recall
    (P(same bucket) = p^planes for per-plane agreement p; multiprobe's
    one-flip probes recover only part of it), so auto-depth bounds cost by
    spending recall. Pin ``num_planes`` explicitly when recall is pinned
    (the oracle queries do), and reach for ivf_topk (trained coarse cells,
    nprobe recall lever) or the multi-table embedding_near_dup_pairs_lsh
    when a large corpus needs high recall.

    Cost note: auto-depth runs ONE extra Spark action — a full
    ``corpus.count()`` pass — on every call. Callers in a loop over the
    same corpus should pass ``corpus_count`` (any known size, e.g. from an
    earlier action) to skip it; an explicit ``num_planes`` also skips it.

    Clamp boundary: planes are clamped to [4, 24]. The upper clamp stops
    adapting past n = 2^24 × target_bucket_rows ≈ 17B vectors (defaults) —
    beyond it expected occupancy grows linearly again (occupancy =
    n / 2^24). The clamp is deliberate, not an oversight: multiprobe fans
    the query side ×(planes+1), and single-table recall decays as p^planes,
    so past ~17B vectors deeper buckets buy occupancy with recall the
    operator can no longer defend — shard the corpus or switch to ivf_topk
    (√n cells keep BOTH sides sub-linear) at that scale. See SCALING.md."""
    if num_planes is None:
        n = corpus.count() if corpus_count is None else int(corpus_count)
        num_planes = max(4, min(24, math.ceil(math.log2(max(n, 2) / target_bucket_rows))))
    cb = signlsh_buckets(corpus, vec_col, id_col, num_planes, dim).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv"), "bucket"
    )
    q = signlsh_buckets(queries, vec_col, id_col, num_planes, dim).select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv"), "bucket"
    )
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
        )
        q = q.select(
            "query_id", "__qv", F.explode(probe_buckets).alias("bucket")
        )
    qb = F.broadcast(q)
    pairs = cb.join(qb, "bucket").dropDuplicates(["query_id", "neighbor_id"])
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Scale-safe dispatch (round-5): with a ``block_col`` the join is exact
    all-pairs WITHIN blocks (caller asserts bounded block sizes — category /
    shard / date keys). WITHOUT one, the call is the bucket-first sign-LSH
    candidate join + exact cosine verify (``embedding_near_dup_pairs_lsh``)
    — an unblocked all-pairs self-join is O(n²) and would be one call away
    on a 1B-row corpus. For an exact all-pairs reference at test scale,
    pass a constant block column."""
    if block_col is None:
        return embedding_near_dup_pairs_lsh(df, vec_col, id_col, threshold)
    # r13: SALT the block key (guide §2.5) — block columns are
    # low-cardinality by design (the sf0.1 fixture has a handful of labels),
    # so without a salt the whole quadratic compare stage lands on
    # ≤ n_blocks tasks (measured: the per-pair cosine ran 12.2 s of executor
    # time on TWO tasks inside q_embedding_cc_dedup). The a-side salt is
    # deterministic (pmod(xxhash64(id), S) — rand() would re-draw under task
    # retry, SPARK-38388); the b-side is exploded S ways so each
    # (block, salt) cell holds 1/S of the block's pairs. Identical pair set,
    # identical per-pair cosine expression. S = min(defaultParallelism, 64),
    # scale-adaptive with a bounded replication factor.
    spark = df.sparkSession
    n_salts = max(1, min(spark.sparkContext.defaultParallelism, 64))
    base = fan_out(df.select(F.col(id_col), F.col(vec_col), F.col(block_col)))
    # per-doc norms hoisted out of the per-pair cosine (r14): the
    # interpreted norm fold ran twice per compared pair; carrying it as a
    # side column evaluates the bit-identical doubles (same subexpression,
    # same operation order — only the evaluation site moves from pair to
    # doc), and the per-pair work drops to the dot fold alone
    a = base.select(
        F.col(id_col).alias("id_a"),
        _as_double(F.col(vec_col)).alias("__va"),
        F.col(block_col).alias("__blk"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("__salt_a"),
    ).withColumn("__na", norm(F.col("__va")))
    b = base.select(
        F.col(id_col).alias("id_b"),
        _as_double(F.col(vec_col)).alias("__vb"),
        F.col(block_col).alias("__blk2"),
    ).withColumn("__nb", norm(F.col("__vb"))).withColumn(
        "__salt_b", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    cond = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("__salt_a") == F.col("__salt_b").cast("long"))
        & (F.col("__blk") == F.col("__blk2"))
    )
    return (
        a.join(b, cond)
        .withColumn(
            "sim",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                4,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _lsh_table_planes(
    num_tables: int, planes_per_table: int, dim: int, seed: int
):
    """The (num_tables * planes_per_table, dim) seeded hyperplane list of
    the LSH bucket builder — same rng stream, so buckets reproduce across
    runs."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(num_tables * planes_per_table)
    ]


def _bucket_arrays_vectorized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes,
    num_tables: int,
    planes_per_table: int,
    extra_cols: list | None = None,
) -> DataFrame:
    """(id, __v, __bkts[, extras]) via ONE BLAS matmul per Arrow batch:
    signs = (batch x dim) @ (dim x L*b) > 0, then bit-packed per table.
    An expression form (L*b interpreted aggregate/zip_with HOFs per row,
    CodegenFallback) measured 8-9x slower than this matmul at the default
    16x6 configuration."""
    import numpy as np

    extra_cols = extra_cols or []
    pm = None  # lazily built per worker from the broadcast list
    weights = [1 << i for i in range(planes_per_table)]

    out_schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
            T.StructField("__bkts", T.ArrayType(T.IntegerType())),
        ]
        + [df.schema[c] for c in extra_cols]
    )

    def run(batches):
        nonlocal pm
        for pdf in batches:
            if not len(pdf):
                continue
            if pm is None:
                pm = np.array(planes, dtype=np.float64).T  # (dim, L*b)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            signs = (mat @ pm) > 0  # (batch, L*b)
            bkts = signs.reshape(len(pdf), -1, planes_per_table) @ np.array(
                weights, dtype=np.int64
            )  # (batch, L)
            out = {
                "__id": pdf[id_col].to_numpy(dtype=np.int64),
                "__v": list(mat),
                "__bkts": list(bkts.astype(np.int32)),
            }
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    # fan out before the Arrow boundary (no-op on a well-split input): the
    # per-batch BLAS matmul dominates the scan, and a single-split input
    # would run every batch in one task (r13)
    proj = fan_out(df.select(id_col, vec_col, *extra_cols))
    return proj.mapInPandas(run, out_schema)


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    planes_per_table: int = 6,
    num_tables: int = 16,
    dim: int = 64,
    seed: int = 7,
    block_col: str | None = None,
) -> DataFrame:
    """Bucket-first near-dup pairs: candidates are generated by an equi
    self-join on (table_idx, sign-LSH bucket) over ``num_tables``
    independent hash tables of ``planes_per_table`` hyperplanes each, then
    every candidate is verified with the EXACT cosine — the embedding-space
    mirror of dedup.minhash_lsh_verified_pairs. Output (id_a, id_b, sim)
    with sim rounded to 4 — precision is exact (false bucket collisions die
    in the verify), recall is probabilistic:

        P(pair found) = 1 - (1 - p^b)^L,  p = 1 - acos(sim)/pi

    With the defaults (b=6, L=16): sim 0.92 → p=.869, miss 7.6e-5;
    sim 0.80 → p=.795, miss 2.7e-2. This is the semantic-dedup regime
    (SemDeDup-style thresholds ≥ 0.8); below ~0.7 the sign-LSH gap between
    near-dups and random pairs collapses (rho = ln p1/ln p2 → 1) and no
    (b, L) both prunes and recalls — callers there should block on a
    category column (embedding_near_dup_pairs' exact within-block join).
    Raising L buys recall linearly in cost; raising b sharpens pruning
    quadratically against random collisions (buckets per table = 2^b).

    Scale: the corpus shuffles once on the ~(1+4)-byte (table, bucket) key
    with xL fan-out; buckets are data-independent so skew is bounded by
    cluster mass, and the expensive L·b plane dots are computed once per
    row and localCheckpointed BEFORE the self-join (both join sides read
    the materialized buckets instead of recomputing the plane fold through
    the explode).

    All L·b plane dots are ONE BLAS matmul per Arrow batch (mapInPandas,
    _bucket_arrays_vectorized). An expression bucket builder (L·b
    interpreted aggregate/zip_with HOFs per row) measured 23.4 s against
    12.7 s end-to-end on the 4k-row sf0.1 twin corpus and was removed. A
    knife-edge dot within float ulp of 0 only perturbs CANDIDATES: the
    exact-cosine verify keeps the output's precision."""
    planes = _lsh_table_planes(num_tables, planes_per_table, dim, seed)
    bucketed = _bucket_arrays_vectorized(
        df, vec_col, id_col, planes, num_tables, planes_per_table,
        extra_cols=[block_col] if block_col else [],
    )
    if block_col:
        bucketed = bucketed.withColumnRenamed(block_col, "__blk")
    bucketed = stage(bucketed, "lsh_buckets")
    keys = ["__tbl", "__bkt"] + (["__blk"] if block_col else [])
    # r13 (guide §8: decide with small rows, move big rows once): the
    # candidate join and the (id_a, id_b) dropDuplicates used to carry BOTH
    # 64-double vectors through the ×L posexplode on both sides — measured
    # 1.85 GB shuffled (926 MB per side) on the sf0.1 twin corpus, with the
    # dedup+verify stage reading it all back (922 s of executor time).
    # Candidates are now generated and deduplicated on (id, table, bucket)
    # METADATA only (~24 bytes/row), and the vectors are attached to the
    # surviving unique pairs afterwards by two id-keyed joins against the
    # already-checkpointed bucketed frame — each vector crosses per unique
    # pair, never per (pair × shared-table) occurrence. Same pair set, same
    # exact-cosine verify expression, same output.
    side = bucketed.select(
        "__id", *(["__blk"] if block_col else []),
        F.posexplode("__bkts").alias("__tbl", "__bkt"),
    )
    a = side.select(F.col("__id").alias("id_a"), *keys)
    b = side.select(F.col("__id").alias("id_b"), *keys)
    cand = (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify-stage shape (r14): per-doc NORMS are computed once on the
    # doc-scale vecs frame and carried as columns — the interpreted
    # aggregate-HOF norm fold used to run per PAIR (twice per candidate;
    # the norms are ~2/3 of the cosine's three array folds), and
    # dot/(__na*__nb) evaluates the bit-identical doubles the inline
    # cosine did (same subexpressions, same operation order, only the
    # evaluation site moves from pair to doc). Measured: the verify
    # checkpoint stage dropped 35-36 s -> 25-26 s of executor time.
    # Width-pinning the pair-attach exchanges was TRIED and REJECTED:
    # pinning the candidate side alone forced the vector joins out of
    # their broadcast shape (shuffle 32 -> 59 MB, every stage slower), and
    # pinning both sides re-created the 426 MB pairs-with-vectors payload
    # exchange this operator's r13 metadata-only redesign removed.
    vecs = bucketed.select("__id", "__v").withColumn("__nrm", norm(F.col("__v")))
    return (
        cand
        .join(
            vecs.select(
                F.col("__id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__nrm").alias("__na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("__id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__nrm").alias("__nb"),
            ),
            "id_b",
        )
        .withColumn(
            "sim",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                4,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k like cosine_topk but with the similarity matrix computed in
    numpy (Arrow-batched mapInPandas): each corpus batch is one BLAS matmul
    against the collected query matrix.

    Scale notes: this is the high-throughput path once queries × dims fits in
    executor memory (queries are collected once per task). FP caveat: matmul
    accumulation order differs from the expression left-fold in the last ulp —
    use the expression form (cosine_topk) when hash-exact reproducibility
    against a sequential oracle matters."""
    import numpy as np
    from pyspark.sql import Window

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_norm @ q_norm.T  # (batch, n_queries)
            n_b, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids[None, :], n_b, axis=0).ravel(),
                    "neighbor_id": np.repeat(c_ids, n_q),
                    "sim": sims.ravel(),
                }
            )

    pairs = corpus.select(id_col, vec_col).mapInPandas(run, out_schema)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
    iterations: int = 5,
    assign_vectorized: bool | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic mini k-means (Lloyd) for IVF coarse quantization.

    Init = the n_centroids corpus vectors with the lowest ids (deterministic,
    no RNG); each iteration assigns every vector to its nearest centroid with
    a broadcast argmin and recomputes means with one groupBy.

    Memory posture (the r9 1024x octave found the old one, which
    checkpointed corpus-sized frames, failing with AGGREGATE_OUT_OF_MEMORY
    at 5.12M x 64-dim: two ~26 GB deserialized caches starved the unified
    pool): the per-iteration ``assigned`` frame is consumed EXACTLY ONCE by
    the means aggregation and the next iteration's plan depends only on the
    updated driver-side centroid literals — lineage never grows through it
    — so it is never materialized; ``vecs`` is checkpointed only when
    iterations > 1 (a single Lloyd pass reads the column-pruned source scan
    directly — at 100 TB a re-scan is cheaper than a corpus-sized cache).

    Returns [(centroid_id, vector)] — small, driver-side (n_centroids × dim)."""
    import numpy as np

    seed_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    cents = np.array([r[1] for r in seed_rows], dtype=np.float64)
    if iterations == 0:
        # seed-only mode (SemDeDup oracle path): no Lloyd passes means the
        # corpus is never re-read here — materializing it would be a full
        # corpus-sized cache bought for nothing at 100 TB
        return [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    vecs = corpus.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    if iterations > 1:
        vecs = stage(vecs, "kmeans_vecs")
    n_hint = None
    if n_centroids >= _DEEP_CROSSOVER:
        # count once here so the tree's coupling check (n >= 100·k,
        # see _assign_to_centroids) doesn't re-count per Lloyd iteration
        n_hint = vecs.count()
    for _ in range(iterations):
        assigned = _assign_to_centroids(
            vecs, "__v", cents, vectorized=assign_vectorized, n_hint=n_hint
        )
        # one parsed expression instead of dim x (avg + getItem) Column
        # builds (r13 plan-time audit); SQL `__v[i]` is 0-based like getItem
        means = (
            assigned.groupBy("centroid_id")
            .agg(
                F.expr(
                    "array("
                    + ",".join(f"avg(__v[{i}])" for i in range(cents.shape[1]))
                    + ")"
                ).alias("mean")
            )
            .collect()
        )
        for r in means:
            cents[r["centroid_id"]] = np.array(r["mean"], dtype=np.float64)
    return [(i, [float(x) for x in c]) for i, c in enumerate(cents)]


def cmat_rows(cmat):
    """Enumerate centroid-matrix rows; tiny helper shared by assignment and
    probe ranking."""
    return list(enumerate(cmat))


def _dlit(x) -> str:
    """Exact SQL double literal: repr(float) is the shortest string that
    round-trips the IEEE-754 value, and Spark's parser is correctly-rounded,
    so `repr(x) + 'D'` denotes the same double F.lit(float(x)) would.
    None / non-finite values map to the literals F.lit produced (NULL /
    NaN / Infinity) instead of unparseable 'nanD'/'infD' tokens (r14
    advice, same hardening as geo.nearest_zone_fallback)."""
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


# assignment dispatch boundaries (evidence in the _assign_to_centroids
# docstring); module constants so tests can move them. Past
# _HIER_CROSSOVER centroids the two-level router replaces the flat kernel.
_HIER_CROSSOVER = 256
# boundary for the three-level tree router: under SemDeDup's
# k = n/300 coupling this is n ≈ 7.4M, just under the r10 head-to-head's
# measured 9% deep win at k=27k/n=8.2M (see _assign_to_centroids docstring
# for the full evidence chain and the small-n caveat)
_DEEP_CROSSOVER = 24576
# the tree additionally requires the coupled regime n >= _DEEP_COUPLING·k:
# the tree's driver-side Lloyd build is ~k^(5/3) and n-INDEPENDENT, so a
# huge codebook over a small corpus inverts the win (measured: k=65536 on
# n=2.05M ran 46.05 s deep vs 19.96 s two-level —
# bench_out/assign_only_scan_r11.txt; n/k there was 31, a 10x violation of
# the k ≈ n/300 coupling the crossover assumes)
_DEEP_COUPLING = 100


def _assign_to_centroids(
    df: DataFrame,
    vec_col: str,
    cents,
    vectorized: bool | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """argmin centroid by squared L2. Up to 64 centroids: array_min over
    (distance, id) structs — linear expression size, fully JVM-side,
    oracle-replayable (a chained when(closer, …) fold doubles the tree per
    centroid and OOMs past ~20). Past 64 the expression tree itself becomes
    the bottleneck (n_centroids × dim literals in one projection), so the
    dispatch flips to the Arrow/BLAS kernel — same argmin, same
    lowest-id tiebreak, FP caveat in its docstring.

    ``vectorized`` overrides the size dispatch (None = >64 rule). The
    64-centroid default is the plan-size wall, NOT the speed crossover:
    the interpreted HOF argmin loses to the BLAS kernel well below it
    (the r8 kmeans 4x scaling cell measured 8.8-17.1 s at k=26 on the
    expression path vs 5.7 s for 4x the data at k=106 on BLAS), so
    throughput callers force True and eat the FP-rounding caveat; the
    expression form exists for oracle-exact replay.

    Codebook size alone picks the router, across THREE rungs with measured
    boundaries: past _HIER_CROSSOVER (256) centroids the flat BLAS matrix
    is n·k work — QUADRATIC when k grows ∝ n (SemDeDup's
    bounded-cluster-size regime; r8 scaling cells measured the flat path at
    octave ratio 5.9 vs 3.36 hierarchical) — so the two-level IVF router
    takes over; from _DEEP_CROSSOVER centroids the three-level IVF-in-IVF
    tree (n·k^(1/3) assignment) does, once the coupling check below
    passes. ``vectorized`` only chooses between the two flat kernels.

    The deep boundary's evidence: the r10 full-cell head-to-head at
    k=27k/n=8.2M (SemDeDup coupling k=n/300) measured deep 9% faster
    end-to-end (270.09 vs 297.89 s), and the r11 assignment-stage-only
    scan (n=2.05M) measured deep 31% faster at k=32768 (9.3 vs 13.4 s).
    CAVEAT measured in the same scan:
    the tree's driver-side BUILD is ~k^(5/3) (Lloyd over all k fine
    centroids) and n-independent, so at k=65536 on only n=2.05M the build
    inverted the win (46.05 vs 19.96 s) — a regime that violates the
    k ∝ n/300 coupling by 10x. The dispatch therefore VERIFIES the coupling
    before taking the tree (r12, closing the r11 advice): it requires
    n ≥ _DEEP_COUPLING·k, with n taken from ``n_hint`` when the caller
    already knows it, else one df.count() — at k ≥ 24576 a count is noise
    next to the n·k^(1/3) assignment it prices. A decoupled call falls back
    to the two-level router. Named next rung if the build ever dominates at
    coupled scale: subsample the tree's Lloyd to ~16k centroids (build drops
    ~k^(5/3) → k·k^(1/3), the final full scatter pass is unavoidable
    either way)."""
    k = len(cents)
    if k > 1 and k >= _DEEP_CROSSOVER:
        n = n_hint if n_hint is not None else df.count()
        if n >= _DEEP_COUPLING * k:
            return _assign_to_centroids_tree(df, vec_col, cents)
        # decoupled regime: fall through to the two-level router (the
        # k > _HIER_CROSSOVER rule below holds here at the shipped values)
    if k > 1 and k > _HIER_CROSSOVER:
        # two-level IVF routing: below the crossover the flat kernel is
        # cheaper than the two-stage overhead
        return _assign_to_centroids_hierarchical(df, vec_col, cents)
    use_vec = vectorized if vectorized is not None else k > 64
    if use_vec:
        return _assign_to_centroids_vectorized(df, vec_col, cents)
    # One SQL string instead of per-centroid Column building (r13): the
    # Column-API form issued ~7k py4j roundtrips for 16 centroids x 64 dims
    # (measured 1.2 s of plan-time driver latency PER assignment — x6 per
    # ivf_topk run with 5 Lloyd iterations). repr(float) round-trips the
    # exact IEEE double and Spark's literal parser is correctly-rounded, so
    # the parsed plan is expression-identical to the old one (same
    # zip_with/aggregate fold, same (d, i) struct tiebreak) — oracle replay
    # unchanged.
    entries = []
    for i, c in enumerate(cents):
        plane = "array(" + ",".join(_dlit(x) for x in c) + ")"
        d = (
            f"aggregate(zip_with(`{vec_col}`, {plane}, "
            "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, v) -> acc + v)"
        )
        entries.append(f"named_struct('d', {d}, 'i', {i})")
    return df.withColumn(
        "centroid_id", F.expr(f"(array_min(array({','.join(entries)}))).i")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest centroid; each
    query probes its nprobe nearest centroid lists and reranks exactly.

    Scale: the inverted lists shuffle once on a 4-byte centroid id (like a
    trained version of signlsh buckets); probe cost ≈ nprobe/n_centroids of
    the corpus per query. n_centroids grows with sqrt(corpus) in practice.
    Probe assignment is DISTRIBUTED — each query row ranks the (tiny,
    plan-embedded) centroid table and explodes its nprobe nearest, so the
    query set never collects to the driver and can itself be
    arbitrarily large (only the centroid matrix, n_centroids × dim, is
    driver-side — that is the trained model, inherently small)."""
    import numpy as np

    cents = train_ivf_centroids(corpus, vec_col, id_col, n_centroids)
    cmat = np.array([c for _, c in cents], dtype=np.float64)
    lists = _assign_to_centroids(
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")),
        "__cv",
        cmat,
    )
    qv = _as_double(F.col(vec_col))
    if n_centroids > 64:
        # large-codebook probe ranking: one BLAS distance matrix per Arrow
        # batch (the expression form below would embed n_centroids × dim
        # literals into the projection — the same plan-explosion wall the
        # assignment side hits; see _assign_to_centroids)
        import numpy as np

        c_sq = (cmat * cmat).sum(axis=1)
        probe_schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("__qv", T.ArrayType(T.DoubleType())),
                T.StructField("centroid_id", T.IntegerType()),
            ]
        )
        q_prep = queries.select(
            F.col(id_col).cast("long").alias("query_id"), qv.alias("__qv")
        )

        def probe_run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(list(pdf["__qv"]), dtype=np.float64)
                d = c_sq[None, :] - 2.0 * (V @ cmat.T)
                top = np.argsort(d, axis=1)[:, :nprobe]
                n_q = len(pdf)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            pdf["query_id"].to_numpy(dtype=np.int64), nprobe
                        ),
                        "__qv": [v for v in pdf["__qv"] for _ in range(nprobe)],
                        "centroid_id": top.ravel().astype("int32"),
                    }
                )

        probes = F.broadcast(q_prep.mapInPandas(probe_run, probe_schema))
    else:
        # per-query top-nprobe centroids as expressions over the embedded
        # centroid literals: distance structs -> array_sort -> slice ->
        # explode. Built as ONE SQL string (r13): the Column-API form paid
        # n_centroids x dim F.lit py4j roundtrips per construction — see
        # _assign_to_centroids.
        dist_structs = []
        for i, c in cmat_rows(cmat):
            plane = "array(" + ",".join(_dlit(x) for x in c) + ")"
            d = (
                "aggregate(zip_with(__qv, " + plane + ", "
                "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, v) -> acc + v)"
            )
            dist_structs.append(f"named_struct('d', {d}, 'i', {i})")
        top_cids = (
            f"slice(array_sort(array({','.join(dist_structs)})), 1, {int(nprobe)})"
        )
        probes = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"), qv.alias("__qv")
            ).selectExpr(
                "query_id",
                "__qv",
                f"explode(transform({top_cids}, s -> s.i)) as centroid_id",
            )
        )
    pairs = lists.join(probes, "centroid_id")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def assign_kmeans_clusters(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int = 8,
    iterations: int = 0,
    assign_vectorized: bool | None = None,
) -> DataFrame:
    """Corpus with a ``cluster_id`` column: nearest centroid by squared L2
    after ``iterations`` Lloyd rounds of the deterministic mini k-means
    (train_ivf_centroids). ``iterations=0`` assigns to the raw seed
    vectors (the n_clusters lowest-id corpus vectors) — a fully
    deterministic, closed-form blocking that an external system can
    replicate exactly; more iterations tighten the clusters at the cost of
    one broadcast-argmin + groupBy pass each.

    Scale: assignment is a per-row expression against the plan-embedded
    centroid matrix (n_clusters × dim literals) — no shuffle, no UDF — up
    to 64 centroids; past that the expression tree stops being a plan and
    starts being a liability (64 structs × dim literals each), so the
    dispatch flips to the Arrow-vectorized BLAS argmin
    (_assign_to_centroids_vectorized), whose centroid matrix ships once
    per task; past 256 the two-level router and, at coupled scale, the
    three-level tree take over (_assign_to_centroids). Production SemDeDup
    wants n_clusters ∝ corpus size (bounded cluster SIZE, see
    kmeans_semantic_dedup) — i.e. the BLAS and router branches.
    ``assign_vectorized`` forces the flat kernel choice at or below 256
    centroids (None = the >64 rule)."""
    import numpy as np

    cents = train_ivf_centroids(
        corpus, vec_col, id_col, n_clusters, iterations,
        assign_vectorized=assign_vectorized,
    )
    cmat = np.array([c for _, c in cents], dtype=np.float64)
    prepped = corpus.withColumn("__v", _as_double(F.col(vec_col)))
    n_hint = None
    if n_clusters >= _DEEP_CROSSOVER:
        # pay the coupling-check count here, once, on the bare corpus scan
        # rather than inside _assign_to_centroids on the widened frame
        n_hint = corpus.count()
    assigned = _assign_to_centroids(
        prepped, "__v", cmat, vectorized=assign_vectorized, n_hint=n_hint
    )
    return assigned.drop("__v").withColumnRenamed("centroid_id", "cluster_id")


def kmeans_semantic_dedup(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_clusters: int = 8,
    iterations: int = 0,
    max_cluster_size: int | None = None,
    assign_vectorized: bool | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, find
    cosine-≥-threshold pairs WITHIN each cluster, collapse connected
    near-dup groups to their min-id representative. Returns the surviving
    rows of ``corpus`` (all columns, plus ``cluster_id``).

    This is the third blocking strategy for embedding dedup alongside
    caller-supplied blocks (embedding_near_dup_pairs + block_col) and
    sign-LSH buckets (embedding_near_dup_pairs_lsh): k-means blocks adapt
    to the data's density rather than to random hyperplanes, which is what
    lets SemDeDup prune 100 TB-scale image/text corpora with tiny
    within-cluster candidate sets. Like SemDeDup itself, pairs that
    straddle a cluster boundary are deliberately missed — that is the
    approximation being bought.

    Scale: n_clusters must grow ∝ corpus size (target a FIXED cluster size
    s ≈ n/k): pair work is Σ s²/2 per cluster = n·s/2 — linear in n only
    while s is bounded. The first harness run used k ~ sqrt(n) and paid
    n^1.5 pair growth (measured 6.3× time at 4× data); k = n/300 restored
    the linear profile. The PAIR stage is always the Arrow-vectorized
    gram kernel (embedding_near_dup_pairs_blocked_vectorized — one BLAS
    gram matrix per cluster instead of s²/2 interpreted HOF cosines;
    measured ~10x at 300-row clusters and 3.3x on q_semantic_dedup_kmeans
    at sf0.1, with sims rounded to 4 bit-equal to the expression join).
    The ASSIGNMENT stage dispatches on codebook size (_assign_to_centroids):
    the expression argmin up to 64 centroids (JVM-side, oracle-replayable),
    flat BLAS up to 256, the IVF-style two-level router past 256 (flat n·k
    work is QUADRATIC when k ∝ n — SCALING.md measured ratio 5.9 on
    64x->256x; the router is ~sqrt(k) coarse cells, nprobe=4, per-point
    cost ~5·sqrt(k)·dim), and the three-level IVF-in-IVF tree from
    24576 centroids at coupled scale (n·k^(1/3) assignment). The routers
    are approximate in the same class as the operator's cluster-boundary
    misses; this is the 100 TB path (FAISS-based SemDeDup clusters the same
    way). ``assign_vectorized`` forces the flat kernel choice at or below
    256 centroids: the oracle query keeps the expression argmin at k=8,
    and the scaling harness forces BLAS at k=26, where the interpreted
    argmin is the measured bottleneck (SCALING.md's kmeans 4x note).
    Component collapse is pointer-doubling on the pair set only.

    ``max_cluster_size`` is the skew guard: k-means gives no size bound
    (MEASURED: on a 128k fixture with low-id seeds + 1 Lloyd pass, skewed
    clusters produced 108M within-cluster pairs — quadratic pockets exact
    where the blocking was supposed to prevent them). Oversized clusters
    are salted into ceil(size/max) deterministic sub-blocks before the
    pair stage, hard-bounding pair work at n·max/2; pairs straddling a
    sub-block are missed — the same approximation class as cluster-
    boundary misses, bought deliberately. Separately: a LOW threshold
    inside dense clusters makes the true pair set itself near-quadratic
    (every pair qualifies) — that is an output-size property no blocking
    escapes; semantic dedup runs at high thresholds (≥0.8) where pairs are
    sparse."""
    from .dedup import dedup_by_components

    assigned = assign_kmeans_clusters(
        corpus, vec_col, id_col, n_clusters, iterations,
        assign_vectorized=assign_vectorized,
    )
    pair_block = "cluster_id"
    if max_cluster_size is not None:
        sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__csz"))
        nsub = F.ceil(F.col("__csz") / F.lit(max_cluster_size)).cast("int")
        assigned = (
            assigned.join(F.broadcast(sizes), "cluster_id")
            .withColumn(
                "__sub",
                F.when(
                    nsub > 1, F.pmod(F.xxhash64(F.col(id_col)), nsub)
                ).otherwise(F.lit(0).cast("bigint")),
            )
            .withColumn(
                "__blk_key",
                F.concat_ws(":", F.col("cluster_id"), F.col("__sub")),
            )
            .drop("__csz", "__sub")
        )
        pair_block = "__blk_key"
    pairs = embedding_near_dup_pairs_blocked_vectorized(
        assigned, vec_col, id_col, threshold, pair_block
    )
    out = dedup_by_components(assigned, pairs.select("id_a", "id_b"), id_col)
    return out.drop("__blk_key") if max_cluster_size is not None else out


def _assign_to_centroids_vectorized(df: DataFrame, vec_col: str, cents) -> DataFrame:
    """Vectorized twin of _assign_to_centroids for large centroid counts:
    the expression form embeds n_centroids × dim literals in ONE projection,
    which is the right plan below ~64 centroids (no Python in the path,
    oracle-replayable) but explodes the expression tree past it. Here the
    centroid matrix ships once per task and each Arrow batch is a single
    BLAS distance computation (||v||² − 2v·C + ||C||², argmin by row, ties
    broken toward the lower centroid id via argmin's first-hit).

    FP caveat mirrors cosine_topk_vectorized: BLAS accumulation order
    differs from the expression left-fold in the last ulp, so assignment of
    a point EXACTLY equidistant to two centroids could differ — measure
    zero; use the expression form when hash-exact oracle replay matters."""
    import numpy as np

    cmat = np.asarray(cents, dtype=np.float64)
    c_sq = (cmat * cmat).sum(axis=1)
    in_cols = df.columns
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("centroid_id", T.IntegerType())]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            # argmin_j ||v-c_j||² = argmin_j (c_j·c_j - 2 v·c_j); ||v||² constant per row
            d = c_sq[None, :] - 2.0 * (V @ cmat.T)
            pdf = pdf.copy()
            pdf["centroid_id"] = d.argmin(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(run, out_schema).select(*in_cols, "centroid_id")


def _coarse_partition_centroids(cmat, n_coarse: int, iterations: int = 3):
    """Deterministic driver-side Lloyd over the CENTROID matrix itself:
    returns (coarse_matrix, children) where children[j] lists the (sorted,
    ascending) fine-centroid indices owned by coarse cell j. Pure numpy on
    a k×dim array — the model is small by construction, so this is
    driver-compute in the same sense as train_ivf_centroids' means."""
    import numpy as np

    coarse = cmat[:n_coarse].copy()

    def _assign():
        d = -2.0 * (cmat @ coarse.T) + (coarse * coarse).sum(axis=1)[None, :]
        return d.argmin(axis=1)

    for _ in range(iterations):
        assign = _assign()
        for j in range(n_coarse):
            members = cmat[assign == j]
            if len(members):
                coarse[j] = members.mean(axis=0)
    # one more assignment AGAINST THE FINAL MEANS so `children` is
    # consistent with the `coarse` matrix the probe ranking will use
    assign = _assign()
    children = [np.nonzero(assign == j)[0] for j in range(n_coarse)]
    return coarse, children


def _assign_to_centroids_hierarchical(
    df: DataFrame, vec_col: str, cents, nprobe: int = 4
) -> DataFrame:
    """IVF-style two-level assignment for LARGE codebooks: rank ~sqrt(k)
    coarse cells per point, then argmin only over the fine centroids owned
    by the point's ``nprobe`` nearest coarse cells. Per-point cost drops
    from k·dim to ~(1+nprobe)·sqrt(k)·dim — the term that makes flat
    assignment QUADRATIC when k grows ∝ n (SemDeDup's bounded-cluster-size
    regime: SCALING.md measured the flat BLAS path at ratio 5.9 on the
    64x->256x octave, exactly the n·k term; FAISS-based SemDeDup runs use
    IVF clustering for the same reason).

    APPROXIMATE by design: a point whose true nearest fine centroid lives
    outside its probed coarse cells gets its best probed centroid instead —
    the same approximation class as the cluster-boundary pair misses the
    operator already buys, and raising ``nprobe`` trades cost for recall.
    Deterministic: coarse cells come from a seeded driver-side Lloyd over
    the centroid matrix, ties break toward the lower centroid id.

    Degenerate-codebook guard: if every probed coarse cell of a point is
    EMPTY (possible only when duplicate centroids leave >= nprobe childless
    cells stacked near it), the point falls back to the flat BLAS argmin
    over the full codebook instead of leaking the int32-max sentinel as a
    bogus cluster id."""
    import numpy as np

    cmat = np.asarray(cents, dtype=np.float64)
    k = len(cmat)
    n_coarse = max(1, int(np.ceil(np.sqrt(k))))
    coarse, children = _coarse_partition_centroids(cmat, n_coarse)
    coarse_sq = (coarse * coarse).sum(axis=1)
    cmat_sq = (cmat * cmat).sum(axis=1)
    child_sq = [(cmat[idx] * cmat[idx]).sum(axis=1) for idx in children]
    nprobe = min(nprobe, n_coarse)
    in_cols = df.columns
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("centroid_id", T.IntegerType())]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            b = len(V)
            dc = coarse_sq[None, :] - 2.0 * (V @ coarse.T)
            probes = np.argsort(dc, axis=1)[:, :nprobe]
            best_d = np.full(b, np.inf)
            best_i = np.full(b, np.iinfo(np.int32).max, dtype=np.int64)
            for j in range(n_coarse):
                idx = children[j]
                if not len(idx):
                    continue
                rows = np.nonzero((probes == j).any(axis=1))[0]
                if not len(rows):
                    continue
                d = child_sq[j][None, :] - 2.0 * (V[rows] @ cmat[idx].T)
                loc = d.argmin(axis=1)
                dv = d[np.arange(len(rows)), loc]
                ci = idx[loc]  # children sorted ascending → argmin first-hit
                # is already the lowest id WITHIN the cell
                cur_d, cur_i = best_d[rows], best_i[rows]
                upd = (dv < cur_d) | ((dv == cur_d) & (ci < cur_i))
                rr = rows[upd]
                best_d[rr] = dv[upd]
                best_i[rr] = ci[upd]
            orphans = np.nonzero(np.isinf(best_d))[0]
            if len(orphans):
                # all probed coarse cells empty (degenerate codebook):
                # flat argmin over the full codebook, never the sentinel
                d = cmat_sq[None, :] - 2.0 * (V[orphans] @ cmat.T)
                best_i[orphans] = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf["centroid_id"] = best_i.astype("int32")
            yield pdf

    return df.mapInPandas(run, out_schema).select(*in_cols, "centroid_id")


def _assign_to_centroids_tree(
    df: DataFrame,
    vec_col: str,
    cents,
    nprobe_top: int = 4,
    nprobe_mid: int = 4,
    chunk_rows: int = 2048,
) -> DataFrame:
    """IVF-in-IVF three-level assignment — the rung past the two-level
    router for VERY large codebooks. The two-level router's per-point cost
    is ~(1+nprobe)·sqrt(k)·dim (rank sqrt(k) coarse cells, then scan
    nprobe cells of ~sqrt(k) children each), i.e. n·sqrt(k) = n^1.5 total
    under the k ∝ n bounded-cluster-size rule — SCALING.md's kmeans row
    measured the drift that term causes at the 4096x octave (ratio ~5
    against the 8x/octave asymptote). Splitting the codebook into
    k^(1/3) top cells over k^(2/3) mid cells over the k fine centroids
    makes every level k^(1/3)-sized: per-point cost
    ~(1 + nprobe_top + nprobe_mid)·k^(1/3)·dim, total n·k^(1/3) = n^(4/3)
    (asymptote 4·4^(1/3) ≈ 6.3x/octave; a depth-log tree would reach
    n·log n, but the constant in front — one Python-masked gemm pass per
    level — already eats the k^(1/6) gain below ~100k centroids, which is
    why _assign_to_centroids takes this depth only from _DEEP_CROSSOVER
    centroids at coupled scale: the crossover lives where the fine-scan
    gemm flops dominate the per-cell mask overhead).

    Same approximation class as the two-level router (a point whose true
    nearest fine centroid lives outside its probed path gets its best
    probed centroid), same determinism posture (seeded driver-side Lloyd
    tree, lowest-id tie-breaks, argpartition on identical arrays is
    deterministic), same degenerate-codebook guard (all-probed-cells-empty
    falls back to flat argmin). The tree is built driver-side from the
    model-sized centroid matrix (k×dim), exactly like the two-level
    router's coarse pass — at k where that matrix itself stops being
    driver-sized, the tree must be trained distributed (out of scope
    here)."""
    import numpy as np

    cmat = np.asarray(cents, dtype=np.float64)
    k = len(cmat)
    n_mid = max(1, int(np.ceil(k ** (2.0 / 3.0))))
    mid, children_fine = _coarse_partition_centroids(cmat, n_mid)
    n_top = max(1, int(np.ceil(np.sqrt(n_mid))))
    top, children_mid = _coarse_partition_centroids(mid, n_top)
    top_sq = (top * top).sum(axis=1)
    mid_sq = (mid * mid).sum(axis=1)
    cmat_sq = (cmat * cmat).sum(axis=1)
    fine_sq = [(cmat[idx] * cmat[idx]).sum(axis=1) for idx in children_fine]
    p1 = min(nprobe_top, n_top)
    p2 = min(nprobe_mid, n_mid)
    in_cols = df.columns
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("centroid_id", T.IntegerType())]
    )

    def assign_chunk(V):
        b = len(V)
        dt = top_sq[None, :] - 2.0 * (V @ top.T)
        probes_top = np.argsort(dt, axis=1)[:, :p1]
        # scatter mid distances for the probed top cells' children into a
        # dense (chunk, n_mid) matrix — chunk_rows bounds it (~27 MB at
        # 2048×1670 for k=68k), the same memory-bandwidth reasoning as the
        # simhash kernel's 2k-doc chunks
        dm = np.full((b, n_mid), np.inf)
        for j in range(n_top):
            idx = children_mid[j]
            if not len(idx):
                continue
            rows = np.nonzero((probes_top == j).any(axis=1))[0]
            if not len(rows):
                continue
            dm[rows[:, None], idx[None, :]] = mid_sq[idx][None, :] - 2.0 * (
                V[rows] @ mid[idx].T
            )
        probes_mid = np.argpartition(dm, min(p2, n_mid - 1), axis=1)[:, :p2]
        # mask probes whose scattered distance is still +inf (the row's
        # probed top cells own fewer than p2 mid children in total):
        # without this, argpartition hands back arbitrary never-scattered
        # mid cells and the fine scan silently exceeds the documented
        # (1 + nprobe_top + nprobe_mid)·k^(1/3) probe budget
        probes_mid[np.take_along_axis(dm, probes_mid, axis=1) == np.inf] = -1
        best_d = np.full(b, np.inf)
        best_i = np.full(b, np.iinfo(np.int32).max, dtype=np.int64)
        for j in range(n_mid):
            idx = children_fine[j]
            if not len(idx):
                continue
            rows = np.nonzero((probes_mid == j).any(axis=1))[0]
            if not len(rows):
                continue
            d = fine_sq[j][None, :] - 2.0 * (V[rows] @ cmat[idx].T)
            loc = d.argmin(axis=1)
            dv = d[np.arange(len(rows)), loc]
            ci = idx[loc]
            cur_d, cur_i = best_d[rows], best_i[rows]
            upd = (dv < cur_d) | ((dv == cur_d) & (ci < cur_i))
            rr = rows[upd]
            best_d[rr] = dv[upd]
            best_i[rr] = ci[upd]
        orphans = np.nonzero(np.isinf(best_d))[0]
        if len(orphans):
            d = cmat_sq[None, :] - 2.0 * (V[orphans] @ cmat.T)
            best_i[orphans] = d.argmin(axis=1)
        return best_i.astype("int32")

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            out = np.empty(len(V), dtype="int32")
            for lo in range(0, len(V), chunk_rows):
                out[lo : lo + chunk_rows] = assign_chunk(V[lo : lo + chunk_rows])
            pdf = pdf.copy()
            pdf["centroid_id"] = out
            yield pdf

    return df.mapInPandas(run, out_schema).select(*in_cols, "centroid_id")


def _pairwise_block_pairs_vectorized(threshold: float):
    """applyInPandas kernel: all cosine-≥-threshold pairs WITHIN one block,
    one normalized gram matrix per block (s² ·d BLAS flops vs s²/2
    interpreted HOF cosines — measured ~40× at 300-row blocks). Caller
    guarantees bounded block sizes; memory is O(s²) doubles per block."""
    import numpy as np

    def fn(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ids = pdf["__pid"].to_numpy(dtype=np.int64)
        V = np.array(list(pdf["__pv"]), dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0.0] = 1.0
        U = V / nrm[:, None]
        S = np.round(U @ U.T, 4)
        iu = np.triu_indices(n, k=1)
        m = S[iu] >= threshold
        a, b = ids[iu[0][m]], ids[iu[1][m]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": S[iu][m]})

    return fn


def embedding_near_dup_pairs_blocked_vectorized(
    df: DataFrame, vec_col: str, id_col: str, threshold: float, block_col: str
) -> DataFrame:
    """Block-local near-dup pairs with the pair work done in numpy: shuffle
    once on the block key, then one BLAS gram matrix per block. Same output
    contract as embedding_near_dup_pairs(block_col=...) (sim rounded to 4),
    same FP caveat as every vectorized twin here. The scale path when
    blocks are bounded but numerous — interpreted per-pair HOF cosines are
    the bottleneck long before the shuffle is."""
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    prep = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).cast("long").alias("__pid"),
        _as_double(F.col(vec_col)).alias("__pv"),
    )
    return prep.groupBy("__blk").applyInPandas(
        _pairwise_block_pairs_vectorized(threshold), out_schema
    )
