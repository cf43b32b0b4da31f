"""DSIR-style importance sampling: select pretraining data that LOOKS LIKE a
target corpus, via importance weights in a hashed n-gram feature space
(Xie et al., "Data Selection for Language Models via Importance Resampling",
NeurIPS 2023 — the public technique behind most "match the target
distribution" data-selection recipes).

The estimator: featurize every document as a bag of hashed word n-grams
(unigrams + bigrams hashed into B buckets — collisions are part of the
method, they regularize the density model); fit two smoothed bag-of-buckets
unigram models, one on a TARGET sample (the distribution you want more of)
and one on the SOURCE pool; each document's log importance weight is

    log w(x) = sum over feature occurrences f of [log p_target(f) - log p_source(f)]

and the selected subset is a Gumbel-top-k draw with those log weights —
equivalent to sampling-without-replacement proportional to w(x).

Spark-first posture: featurization is one explode + one (id, bucket)
aggregate (map-side combinable); both densities reduce to a B-row frame
(B ~ 10^4: broadcastable everywhere); scoring is one broadcast join + one
doc-keyed sum; resampling is TakeOrderedAndProject (per-partition top-k
heap, no global sort). Nothing here shuffles the corpus except the one
feature aggregate keyed on (id, bucket) — at 100 TB the feature frame is
the only corpus-scale intermediate, and it is ~tokens-sized, the same
budget as any tokenize pass.

Determinism: the bucket hash and the Gumbel noise both derive from md5
(sampling.py's engine-portable hash contract), so reruns, repartitioning,
and the DuckDB oracles reproduce decisions bit-for-bit; log-ratios are
rounded before use so float ulp noise cannot flip a selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import words
from .sampling import hash_unit_int

_HEX_SPACE = 16**8


def _gram_bucket(gram: Column, num_buckets: int, seed: int | str = 0) -> Column:
    """Stable hash bucket for one n-gram: md5 prefix mod B (engine-portable:
    DuckDB replays it as CAST(CONCAT('0x', SUBSTR(MD5(...),1,8)) AS BIGINT) % B)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), gram)), 1, 8), 16, 10
        ).cast("long")
        % num_buckets
    )


def hashed_ngram_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_buckets: int = 10_000,
    n_max: int = 2,
    seed: int | str = 0,
    flag: Column | None = None,
) -> DataFrame:
    """(id, bucket, cnt) hashed n-gram OCCURRENCE counts per document —
    DSIR's feature map. Unigrams plus word n-grams up to ``n_max`` (DSIR
    uses unigrams+bigrams), each hashed into ``num_buckets`` buckets;
    counts are multiset counts (a repeated gram counts every occurrence,
    matching the product-of-feature-probabilities estimator).

    Scale: grams stay inside one whole-stage-codegen explode (no UDF); the
    only shuffle is the (id, bucket) count aggregate, map-side combined.
    Empty/whitespace-only docs contribute no rows (restored as weight 0 by
    dsir_importance_weights).

    The input is projected to (id, text) and FANNED OUT before the explode
    (session.fan_out: round-robin repartition only when the input is
    under-partitioned, a no-op on a well-split corpus scan): the per-row
    work — gram explode plus an md5+conv per gram — dominates the scan by
    orders of magnitude, and a single-split parquet input would otherwise
    run the whole featurize in ONE task (r13 stage profile: 9.9 s
    single-task featurize stages accounted for ~90% of q_dsir_weights'
    11.2 s wall; fanned out the same work runs at core parallelism).

    ``flag`` (r14): an optional per-row boolean Column evaluated against
    ``df`` and carried through the explode as ``__tgt`` (per-doc constant,
    so the count aggregate carries it via max). Lets
    dsir_importance_weights derive the TARGET LM counts from the pool's
    one feature frame when the target is a predicate-subset of the pool —
    one corpus featurize pass instead of two."""
    from data_rivers_spark.session import fan_out

    cols = [F.col(id_col), F.col(text_col)]
    if flag is not None:
        cols.append(flag.alias("__tgt"))
    df = fan_out(df.select(*cols))

    def _ngram_lambda(ws, n: int):
        # single-parameter lambda: PySpark's HOF bridge passes (element,
        # index) to TWO-parameter lambdas, so binding n via a default arg
        # would receive the index Column instead
        return lambda i: F.concat_ws(" ", *[F.get(ws, i + j) for j in range(n)])

    def _grams(ws):
        gram_arrays = [ws]
        for n in range(2, n_max + 1):
            if n == 2:
                # bigrams via zip_with over two shifted slices — identical
                # strings to the transform+get form ('w1 w2'), but ~7x
                # cheaper: transform(sequence(...), i -> concat_ws(get(ws,i),
                # get(ws,i+1))) is an interpreted HOF whose per-element
                # get() re-walks the array machinery; the r13 stage profile
                # put the gram construction (not the md5) at ~85% of the
                # 9.9 s featurize stage, while hashed_feature_rows'
                # zip_with form did the same volume in 1.4 s. Empty/1-word
                # docs: both slices are empty, so zip_with yields [] —
                # same as the old when(size>=2) guard.
                gl = F.greatest(F.size(ws) - 1, F.lit(0))
                gram_arrays.append(
                    F.zip_with(
                        F.slice(ws, 1, gl),
                        F.slice(ws, 2, gl),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    )
                )
            else:
                gram_arrays.append(
                    F.when(
                        F.size(ws) >= n,
                        F.transform(
                            F.sequence(F.lit(0), F.size(ws) - n),
                            _ngram_lambda(ws, n),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                )
        return F.flatten(F.array(*gram_arrays))

    # NOTE on evaluate-once binding: binding ws once (as the sole element
    # of an array, transformed and unwrapped) was tried and REJECTED —
    # measured 3.9 s vs 1.6 s for the bare form at sf0.1; the extra array
    # wrap/copy per row costs more than the repeated split saves here (the
    # repeated subexpression is the cheap tokenize, not an expensive fold)
    grams = _grams(words(F.col(text_col)))
    tgt_sel = [F.col("__tgt")] if flag is not None else []
    exploded = df.select(
        F.col(id_col), *tgt_sel, F.explode(grams).alias("__gram")
    ).select(
        id_col, *tgt_sel,
        _gram_bucket(F.col("__gram"), num_buckets, seed).alias("bucket"),
    )
    agg = [F.count(F.lit(1)).alias("cnt")]
    if flag is not None:
        # per-doc constant, so max() just carries the value through
        agg.append(F.max("__tgt").alias("__tgt"))
    return exploded.groupBy(id_col, "bucket").agg(*agg)


def dsir_log_ratios(
    target_feats: DataFrame,
    source_feats: DataFrame,
    num_buckets: int = 10_000,
    alpha: float = 1.0,
    ndigits: int = 6,
) -> DataFrame:
    """DENSE per-bucket log importance ratios from two feature frames:

        log_ratio(b) = log((ct_b + α)/(Tt + αB)) - log((cs_b + α)/(Ts + αB))

    (add-α smoothed bucket unigram models; Tt/Ts are total feature
    occurrences). Dense — every bucket 0..B-1 gets a row, so scoring joins
    never miss (a gram unseen in both corpora still gets the smoothing-only
    ratio log(Ts+αB) - log(Tt+αB)). B rows: broadcastable at any corpus
    size. Ratios are ROUNDED to ``ndigits`` so both engines (and reruns on
    different partitionings) score from identical constants.

    Each feature frame's lineage appears EXACTLY ONCE in the returned plan:
    the totals Tt/Ts are window sums over the joined B-row dense frame
    (deliberately single-partition — B ~ 10^4 bucket rows, the same
    group-cardinality posture as unimax_allocation), not separate
    re-aggregations of the corpus-scale featurize lineage. Counts are
    longs, so the window totals are exact integers — identical to the
    re-aggregated form on every engine."""
    tc = target_feats.groupBy("bucket").agg(F.sum("cnt").alias("__ct"))
    sc = source_feats.groupBy("bucket").agg(F.sum("cnt").alias("__cs"))
    joint = tc.join(sc, "bucket", "full")
    return _dsir_log_ratios_from_joint(joint, num_buckets, alpha, ndigits)


def _dsir_log_ratios_from_joint(
    joint: DataFrame, num_buckets: int, alpha: float, ndigits: int = 6
) -> DataFrame:
    """dsir_log_ratios' arithmetic over a JOINT (bucket, __cs, __ct) count
    frame — built from two count aggregates by dsir_log_ratios, or by one
    aggregate on the target_flag path: dense 0..B-1 rows, coalesce-0
    counts (a bucket missing from one side counts 0 there),
    single-partition window totals, rounded log ratio."""
    from pyspark.sql import Window

    spark = joint.sparkSession
    dense = spark.range(num_buckets).select(F.col("id").alias("bucket"))
    ab = float(alpha) * num_buckets
    w = Window.partitionBy()
    joined = dense.join(joint, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("__ct"), F.lit(0)).alias("__ct"),
        F.coalesce(F.col("__cs"), F.lit(0)).alias("__cs"),
    )
    return joined.select(
        "bucket",
        F.round(
            F.log(
                (F.col("__ct") + F.lit(float(alpha)))
                / (F.sum("__ct").over(w) + F.lit(ab))
            )
            - F.log(
                (F.col("__cs") + F.lit(float(alpha)))
                / (F.sum("__cs").over(w) + F.lit(ab))
            ),
            ndigits,
        ).alias("log_ratio"),
    )


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: DataFrame | None,
    num_buckets: int = 10_000,
    n_max: int = 2,
    alpha: float = 1.0,
    seed: int | str = 0,
    out_col: str = "log_weight",
    ndigits: int = 6,
    target_flag: Column | None = None,
) -> DataFrame:
    """``df`` plus a ``log_weight`` column: the DSIR log importance weight of
    each document toward ``target`` (a DataFrame of exemplar documents with
    the same text column — typically a quality sample or an in-domain set),
    with ``df`` itself as the source pool.

    log_weight > 0: looks more like the target than the pool; < 0: less.
    Documents with no tokens weight 0. One corpus featurize pass each for
    pool and target, a B-row broadcast join, one doc-keyed sum — the
    corpus is never shuffled on anything wider than (id, bucket).

    Plan construction is side-effect-free (no checkpoint): the pool's
    feature frame has TWO consumers (the source LM aggregate and the
    per-doc scoring join) and Catalyst does not common-subexpression the
    n-gram explode across joins, so the featurize pass runs twice — but
    recompute is MEASURED faster: an interleaved cold-JVM A/B at sf0.1
    (bench_out/rebench_dsir_materialize_r11.json; 3 rounds × 3 samples per
    arm) put the eager localCheckpoint round-trip at 13.8 s envelope min vs
    10.6 s for recompute (~23% slower) — writing + re-reading the
    (id, bucket, cnt) frame costs more than re-running the codegen'd
    explode+agg."""
    if (target is None) == (target_flag is None):
        raise ValueError("pass exactly one of target / target_flag")
    if target_flag is not None:
        # predicate-subset target (r14): the target LM counts derive from
        # the POOL's one feature frame — the flag rides the explode as a
        # per-doc boolean and ONE joint aggregate produces both count
        # columns, so the target subset is never featurized as a second
        # corpus pass. Counts are identical integers to featurizing the
        # filtered subset (per-doc feature rows are independent across
        # docs), so the smoothed ratios — and every downstream weight —
        # are bit-identical.
        src_feats = hashed_ngram_features(
            df, text_col, id_col, num_buckets, n_max, seed, flag=target_flag
        )
        joint = src_feats.groupBy("bucket").agg(
            F.sum("cnt").alias("__cs"),
            F.sum(F.when(F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "__ct"
            ),
        )
        ratios = _dsir_log_ratios_from_joint(joint, num_buckets, alpha, ndigits)
        src_feats = src_feats.drop("__tgt")
    else:
        src_feats = hashed_ngram_features(
            df, text_col, id_col, num_buckets, n_max, seed
        )
        tgt_feats = hashed_ngram_features(
            target, text_col, id_col, num_buckets, n_max, seed
        )
        ratios = dsir_log_ratios(tgt_feats, src_feats, num_buckets, alpha)
    # sum in exact integer micro-units of the (already 6dp-rounded) ratios:
    # float summation is order-dependent, and Spark's partial aggregation
    # order vs any other engine's flipped the 4th decimal on boundary rows
    # (measured: 2 rows in 500) — integer sums are order-free, so the
    # weight is a pure function of the inputs on every engine. Keep
    # ndigits >= 6: micro/1e6 terminates at 6 decimals, so rounding there
    # is an identity with NO .5 ties — rounding coarser (e.g. 4) re-creates
    # exact ties like -12.56135 that decimal engines (HALF_UP on the
    # shortest repr) and binary engines (round of the under-.5 double)
    # break differently
    micro = F.round(F.col("log_ratio") * F.lit(1_000_000.0)).cast("long")
    scored = (
        src_feats.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("cnt") * micro) / F.lit(1_000_000.0), ndigits
            ).alias(out_col)
        )
    )
    return df.join(scored, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0.0))
    )


def dsir_resample(
    df: DataFrame,
    key_col: str,
    log_weight_col: str,
    k: int,
    seed: int | str = 0,
) -> DataFrame:
    """Gumbel-top-k selection: keep the k documents with the largest
    ``log_weight + Gumbel(0,1)`` — exactly sampling-without-replacement with
    probability proportional to exp(log_weight) (the Gumbel-max trick, the
    resampling step of DSIR). The Gumbel draw is deterministic content hash
    (-ln(-ln(u)), u uniform from md5), so the selected set is reproducible
    across runs, engines, and partitionings.

    Scale: orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k heap plus a k-row driver merge; no global sort, no shuffle of the
    corpus. Ties (possible only for equal hashes AND equal weights)
    tiebreak on the key."""
    u01 = (hash_unit_int(F.col(key_col), seed).cast("double") + F.lit(0.5)) / F.lit(
        float(_HEX_SPACE)
    )
    rank = F.col(log_weight_col).cast("double") - F.log(-F.log(u01))
    return (
        df.withColumn("__gumbel_rank", rank)
        .orderBy(F.col("__gumbel_rank").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("__gumbel_rank")
    )
