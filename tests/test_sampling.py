"""Corpus-curation operators: deterministic sampling, trim, packing, quantize."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_rivers_spark.operators import sampling as SA
from data_rivers_spark.operators import similarity as S
from data_rivers_spark.operators import textstats as TX


def test_deterministic_sample_stable_under_repartition(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = {r.k for r in SA.deterministic_sample(df, "k", 0.3, seed=1).collect()}
    b = {
        r.k
        for r in SA.deterministic_sample(df.repartition(13), "k", 0.3, seed=1).collect()
    }
    assert a == b
    # roughly 30% (md5 is uniform; 2000 draws → generous bounds)
    assert 0.24 < len(a) / 2000 < 0.36


def test_deterministic_sample_edges(spark):
    df = spark.range(50).withColumnRenamed("id", "k")
    assert SA.deterministic_sample(df, "k", 1.0).count() == 50
    assert SA.deterministic_sample(df, "k", 0.0).count() == 0
    # different seeds draw different subsets
    a = {r.k for r in SA.deterministic_sample(df, "k", 0.5, seed=1).collect()}
    b = {r.k for r in SA.deterministic_sample(df, "k", 0.5, seed=2).collect()}
    assert a != b


def test_fraction_threshold_one_keeps_every_bucket():
    """fraction=1.0 emits the 'g' sentinel: strictly above every 8-hex
    bucket (including 'ffffffff', which a capped threshold would drop from a
    keep-everything stratum at ~2^-32 per row)."""
    assert SA.fraction_threshold(1.0) == "g"
    assert "ffffffff" < SA.fraction_threshold(1.0)
    assert SA.fraction_threshold(0.0) == "00000000"
    # sub-1.0 fractions stay in hex space (nesting order preserved)
    assert SA.fraction_threshold(0.5) < SA.fraction_threshold(0.9) < "g"


def test_stratified_sample_rates(spark):
    df = spark.range(3000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )
    out = SA.stratified_sample(df, "k", "s", {"0": 1.0, "1": 0.0}, default_fraction=0.5)
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts.get("0") == 1000
    assert "1" not in counts
    assert 400 < counts.get("2", 0) < 600


def test_train_test_split_partition_and_nesting(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    out = SA.train_test_split(df, "k", 0.2, seed="s")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["test"] + counts["train"] == 1000
    assert 120 < counts["test"] < 280
    # a smaller test fraction must select a SUBSET of the larger one (same
    # seed): thresholds nest, so shrinking eval never swaps examples in
    small = {
        r.k for r in SA.train_test_split(df, "k", 0.05, seed="s").collect() if r.split == "test"
    }
    big = {
        r.k for r in SA.train_test_split(df, "k", 0.2, seed="s").collect() if r.split == "test"
    }
    assert small <= big


def test_quantile_trim_bounds(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("g"),
        F.col("id").alias("score"),
    )
    out = TX.quantile_trim(df, "score", "k", "g", low=0.1, high=0.9)
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    # 50 per group; percent_rank in [0.1, 0.9] keeps ranks 5..45 inclusive of
    # boundaries that land exactly on the grid: (r-1)/49 in [0.1, 0.9]
    assert counts[0] == counts[1]
    assert 38 <= counts[0] <= 42


def test_sequential_pack_invariants(spark):
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g"),
        (F.col("id") % 7 + 1).alias("tok"),
    )
    out = TX.sequential_pack(df, "tok", "k", budget=10, group_col="g").collect()
    by_group: dict = {}
    for r in sorted(out, key=lambda r: (r.g, r.k)):
        by_group.setdefault(r.g, []).append(r)
    for rows in by_group.values():
        # chunk_idx is nondecreasing in id order and starts at 0
        idxs = [r.chunk_idx for r in rows]
        assert idxs[0] == 0
        assert all(a <= b for a, b in zip(idxs, idxs[1:]))
        # each doc's chunk = its start offset // budget
        run = 0
        for r in rows:
            assert r.chunk_idx == run // 10
            run += r.tok


def test_sequential_pack_scalable_equals_window_form(spark):
    # r12: the two-pass per-partition-prefix pack must equal the exact
    # window form row-for-row — grouped, ungrouped, and under adversarial
    # input partitioning (the range repartition owns the layout).
    import random

    rng = random.Random(7)
    # r13 (closing the r12 high advice): ~1/5 of rows carry a NULL group —
    # the window form packs NULL as a real group (partitionBy semantics),
    # and the scalable twin must NOT drop them (a plain inner equi-join on
    # the group key would: NULL never equals NULL).
    rows = [
        (i, str(i % 5) if i % 5 else None, rng.randint(1, 40))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "k long, g string, tok int").repartition(13)
    for grp in ("g", None):
        want = {
            (r.k): r.chunk_idx
            for r in TX.sequential_pack(
                df, "tok", "k", budget=64, group_col=grp
            ).collect()
        }
        got_df = TX.sequential_pack_scalable(
            df, "tok", "k", budget=64, group_col=grp, num_partitions=7
        )
        assert got_df.columns == ["k", "g", "tok", "chunk_idx"]
        got = {r.k: r.chunk_idx for r in got_df.collect()}
        assert got == want
    # a group smaller than one range partition and single-partition input
    tiny = spark.createDataFrame(
        [(1, "a", 3), (2, "a", 4), (3, "b", 9)], "k long, g string, tok int"
    ).coalesce(1)
    got = {
        r.k: r.chunk_idx
        for r in TX.sequential_pack_scalable(
            tiny, "tok", "k", budget=5, group_col="g", num_partitions=4
        ).collect()
    }
    assert got == {1: 0, 2: 0, 3: 0}
    # the r12 advice's exact repro: NULL-group rows must survive and pack
    repro = spark.createDataFrame(
        [(1, "a", 3), (2, "a", 3), (3, None, 3), (4, None, 3), (5, "b", 3)],
        "k long, g string, tok int",
    )
    want = {
        r.k: r.chunk_idx
        for r in TX.sequential_pack(repro, "tok", "k", 5, "g").collect()
    }
    got = {
        r.k: r.chunk_idx
        for r in TX.sequential_pack_scalable(
            repro, "tok", "k", 5, "g", num_partitions=3
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5} and got == want


def test_sequential_pack_scalable_materialize_false(spark):
    # the locally-cumsum'd frame is reused by both range exchanges, so one
    # partition assignment feeds the pack: a third of the rows NULL-grouped,
    # packed across fewer range partitions than input partitions, must equal
    # the exact window form.
    rows = [
        (i, ["a", "b", None][i % 3], 1 + i % 7) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, g string, tok int").repartition(11)
    want = {
        r.k: r.chunk_idx for r in TX.sequential_pack(df, "tok", "k", 16, "g").collect()
    }
    got = {
        r.k: r.chunk_idx
        for r in TX.sequential_pack_scalable(
            df, "tok", "k", 16, "g", num_partitions=5
        ).collect()
    }
    assert got == want


def test_quantize_int8_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [2.0])],
        "id int, v array<double>",
    )
    q = S.quantize_int8(F.col("v"))
    rows = {
        r.id: r
        for r in df.select("id", q["codes"].alias("c"), q["scale"].alias("s")).collect()
    }
    # max|x| maps to ±127 exactly; dequant error ≤ scale/2
    assert rows[1].c == [64, -127, 32]
    for orig, code in zip([0.5, -1.0, 0.25], rows[1].c):
        assert abs(code * rows[1].s - orig) <= rows[1].s / 2 + 1e-12
    assert rows[2].c == [0, 0, 0] and rows[2].s == 0.0
    assert rows[3].c == [127]


def test_l2_normalize(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id int, v array<double>")
    out = {r.id: r.n for r in df.select("id", S.l2_normalize(F.col("v")).alias("n")).collect()}
    assert abs(out[1][0] - 0.6) < 1e-12 and abs(out[1][1] - 0.8) < 1e-12
    assert out[2] == [0.0, 0.0]


def test_token_budget_trim_hard_cap(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("src"),
        F.lit(7).alias("tok"),
    )
    out = SA.token_budget_trim(df, "k", "src", "tok", budget=70, seed=3)
    rows = out.collect()
    # hard cap: each group admits exactly floor(70/7)=10 rows
    per = {}
    for r in rows:
        per[r.src] = per.get(r.src, 0) + r.tok
    assert all(v <= 70 for v in per.values()) and len(per) == 2
    # deterministic under repartitioning
    again = {r.k for r in
             SA.token_budget_trim(df.repartition(13), "k", "src", "tok",
                                  budget=70, seed=3).collect()}
    assert {r.k for r in rows} == again
    # different seed admits a different prefix
    other = {r.k for r in
             SA.token_budget_trim(df, "k", "src", "tok", budget=70, seed=4).collect()}
    assert {r.k for r in rows} != other


def test_quantile_trim_approx_matches_exact_closely(spark):
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("g"),
        (F.col("id") * 37 % 2000).alias("score"),
    )
    exact = TX.quantile_trim(df, "score", "k", "g", low=0.1, high=0.9)
    approx = TX.quantile_trim_approx(df, "score", "g", low=0.1, high=0.9)
    ne, na = exact.count(), approx.count()
    # same ballpark (sketch boundary error only), and grouped bounds hold
    assert abs(ne - na) <= 0.02 * 2000
    lo = {r.g: r.mn for r in approx.groupBy("g").agg(F.min("score").alias("mn")).collect()}
    assert all(v > 0 for v in lo.values())  # bottom decile trimmed per group


def test_weighted_sample_rate_tracks_weight(spark):
    # two weight classes: heavy rows must be kept at ~the designed Poisson
    # rate, light rows at theirs, and the draw must be repartition-stable
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit(100)).otherwise(F.lit(1000)).alias("w"),
    )
    out = SA.weighted_sample(df, "k", "w", rate=0.001, seed=5)
    kept = {r.k for r in out.collect()}
    light = sum(1 for k in kept if k % 2 == 0) / 2000  # pi = 1-e^-0.1 ~ 0.095
    heavy = sum(1 for k in kept if k % 2 == 1) / 2000  # pi = 1-e^-1.0 ~ 0.632
    assert 0.06 < light < 0.14
    assert 0.58 < heavy < 0.69
    again = {r.k for r in SA.weighted_sample(df.repartition(17), "k", "w",
                                             rate=0.001, seed=5).collect()}
    assert kept == again


def test_weighted_topk_sample_fixed_size_and_weight_biased(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, F.lit(500.0)).otherwise(F.lit(5.0)).alias("w"),
    )
    out = SA.weighted_topk_sample(df, "k", "w", k=100, seed=9)
    rows = out.collect()
    assert len(rows) == 100
    # the 100 heavy rows (10% of rows, 100x weight) should dominate the draw
    heavy = sum(1 for r in rows if r.k < 100)
    assert heavy > 60
    # exactly reproducible
    again = sorted(r.k for r in
                   SA.weighted_topk_sample(df.repartition(13), "k", "w",
                                           k=100, seed=9).collect())
    assert sorted(r.k for r in rows) == again


def test_hashed_linear_score_properties(spark):
    df = spark.createDataFrame(
        [(1, "good clean prose with varied words"),
         (2, "good clean prose with varied words"),   # identical text
         (3, "zz"), (4, "")],
        ["doc_id", "text"],
    )
    wts = TX.make_hashed_weights(spark, 64, seed=3)
    out = {r.doc_id: r.clf_score for r in
           TX.hashed_linear_score(df, "text", "doc_id", wts,
                                  num_buckets=64, seed=3).collect()}
    assert len(out) == 4
    assert out[1] == out[2]                 # pure function of text
    assert out[4] == 0.5                    # zero features -> sigmoid(bias=0)
    assert all(0.0 < v < 1.0 for v in out.values())
    # bias shifts every score monotonically
    up = {r.doc_id: r.clf_score for r in
          TX.hashed_linear_score(df, "text", "doc_id", wts, num_buckets=64,
                                 seed=3, bias=2.0).collect()}
    assert all(up[k] > out[k] for k in out)


def test_domain_mixture_sample_rates_and_reproducibility(spark):
    # 400 'web' rows, 80 'books', 20 'wiki' — temperature 0.5 upweights the
    # scarce domains relative to their natural share
    rows = (
        [(i, "web") for i in range(400)]
        + [(1000 + i, "books") for i in range(80)]
        + [(2000 + i, "wiki") for i in range(20)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = SA.domain_mixture_sample(df, "doc_id", "source",
                                   temperature=0.5, budget_frac=0.5, seed=5)
    got = out.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in got}
    import math
    n = {"web": 400, "books": 80, "wiki": 20}
    s = sum(math.sqrt(v) for v in n.values())
    rates = {d: min(1.0, 0.5 * 500 * math.sqrt(v) / (s * v)) for d, v in n.items()}
    # every kept count is within binomial noise of rate_d * n_d
    for d in n:
        exp = rates[d] * n[d]
        assert abs(by.get(d, 0) - exp) < 4 * (exp ** 0.5) + 3, (d, by.get(d), exp)
    # scarce domains keep a larger FRACTION than dominant ones
    assert by["wiki"] / 20 > by["web"] / 400
    # decision is layout-independent
    again = sorted(r.doc_id for r in
                   SA.domain_mixture_sample(df.repartition(7), "doc_id", "source",
                                            temperature=0.5, budget_frac=0.5,
                                            seed=5).collect())
    assert sorted(r.doc_id for r in out.collect()) == again


def test_domain_mixture_temperature_extremes(spark):
    rows = [(i, "big") for i in range(300)] + [(1000 + i, "small") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # temperature 1 preserves the natural mixture: every domain keeps ~budget_frac
    t1 = SA.domain_mixture_sample(df, "doc_id", "source", 1.0, 0.5, seed=1)
    by1 = {r.source: r["count"] for r in t1.groupBy("source").count().collect()}
    assert abs(by1["big"] / 300 - 0.5) < 0.15
    assert abs(by1.get("small", 0) / 30 - 0.5) < 0.3
    # temperature 0 equalizes: target share 50/50 -> small saturates at rate 1
    t0 = SA.domain_mixture_sample(df, "doc_id", "source", 0.0, 0.5, seed=1)
    by0 = {r.source: r["count"] for r in t0.groupBy("source").count().collect()}
    assert by0["small"] == 30  # rate 1: every scarce row kept


def test_cluster_safe_split_keeps_clusters_together(spark):
    # three near-dup families (a doc and a lightly-edited twin) plus
    # singletons; every family must land entirely on one side
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs before the night ends"),
        (3, "sphinx of black quartz judge my vow said the old librarian"),
    ]
    rows = []
    for i, txt in base:
        rows.append((i, txt))
        rows.append((i + 100, txt + " tail"))  # near-dup twin
    for i in range(10, 40):
        rows.append((i, f"unique document number {i} with its own words {i * 7} {i * 11}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = SA.cluster_safe_split(
        df, "text", "doc_id", test_fraction=0.5, threshold=0.5, seed=3,
        num_hashes=32, bands=16,
    ).collect()
    split = {r.doc_id: r.split for r in out}
    assert len(split) == len(rows)
    for i, _ in base:
        assert split[i] == split[i + 100], f"cluster {i} straddles the split"
    assert {"test", "train"} == set(split.values())


def test_cluster_safe_split_reduces_to_row_split_without_dups(spark):
    # strict refinement: with no near-dups the assignment is EXACTLY the
    # row-level train_test_split keyed on the id
    df = spark.createDataFrame(
        [(i, f"totally distinct text {i} {i * 13} {i * 29} {i * 31}") for i in range(40)],
        ["doc_id", "text"],
    )
    a = {
        r.doc_id: r.split
        for r in SA.cluster_safe_split(
            df, "text", "doc_id", test_fraction=0.3, threshold=0.9, seed=5
        ).collect()
    }
    b = {
        r.doc_id: r.split
        for r in SA.train_test_split(df, "doc_id", 0.3, seed=5).collect()
    }
    assert a == b


def test_cluster_safe_split_caller_component_column_survives(spark):
    # the internal comps frame joins under __csplit_component, so a caller
    # DataFrame that already has a 'component' column keeps it verbatim
    df = spark.createDataFrame(
        [(i, f"totally distinct text {i} {i * 13} {i * 29} {i * 31}", f"c{i}")
         for i in range(20)],
        ["doc_id", "text", "component"],
    )
    out = SA.cluster_safe_split(
        df, "text", "doc_id", test_fraction=0.3, threshold=0.9, seed=5
    )
    assert "component" in out.columns and "split" in out.columns
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == {i: f"c{i}" for i in range(20)}


def _unimax_ref(sizes: dict[str, float], budget: float, cap: float) -> dict[str, float]:
    """Brute-force water-filling reference: iteratively saturate any group
    whose capacity is below the current uniform share."""
    caps = {g: n * cap for g, n in sizes.items()}
    alloc: dict[str, float] = {}
    remaining = budget
    pool = dict(caps)
    while pool:
        share = remaining / len(pool)
        sat = {g: c for g, c in pool.items() if c <= share}
        if not sat:
            for g in pool:
                alloc[g] = share
            return alloc
        for g, c in sat.items():
            alloc[g] = c
            remaining -= c
            del pool[g]
    return alloc


def test_unimax_allocation_matches_waterfill_reference(spark):
    sizes = {"en": 1000, "de": 400, "fr": 90, "sw": 10, "yo": 3}
    rows = [(f"{g}{i}", g) for g, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {
        r.lang: r.allocated
        for r in SA.unimax_allocation(df, "lang", total_budget=800.0, epoch_cap=4.0).collect()
    }
    ref = _unimax_ref(sizes, 800.0, 4.0)
    assert set(out) == set(ref)
    for g in ref:
        assert abs(out[g] - ref[g]) < 1e-6, (g, out[g], ref[g])
    # tail languages saturate at exactly epoch_cap epochs
    assert out["yo"] == 12.0 and out["sw"] == 40.0
    # budget conserved (every group still below cap -> fully spent)
    assert abs(sum(out.values()) - 800.0) < 1e-6


def test_unimax_allocation_underfilled_when_budget_exceeds_capacity(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 8 else "b") for i in range(10)], ["doc_id", "lang"]
    )
    out = {r.lang: r for r in SA.unimax_allocation(df, "lang", 1000.0, 2.0).collect()}
    # total capacity 20 < budget: every group saturates, budget underfills
    assert out["a"].allocated == 16.0 and out["b"].allocated == 4.0
    assert out["a"].epochs == 2.0 and out["b"].epochs == 2.0


def test_unimax_allocation_token_weighted(spark):
    df = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 300), (3, "b", 50)],
        ["doc_id", "lang", "n_tok"],
    )
    out = {
        r.lang: r
        for r in SA.unimax_allocation(
            df, "lang", total_budget=300.0, epoch_cap=4.0, weight_col="n_tok"
        ).collect()
    }
    # capacities: a=1600, b=200; b caps below the 150 uniform share? no:
    # 200 > 150, so both water-fill at 150 tokens each
    assert out["a"].allocated == 150.0 and out["b"].allocated == 150.0


def test_unimax_sample_epochs_and_budget(spark):
    rows = [(f"{g}{i}", g, 10) for g, n in {"big": 200, "tiny": 3}.items() for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tok"])
    out = SA.unimax_sample(df, "doc_id", "lang", "n_tok", total_budget=500.0, epoch_cap=4.0)
    got = out.groupBy("lang").agg(
        F.sum("n_tok").alias("tok"), F.max("epoch").alias("maxep")
    ).collect()
    by = {r.lang: r for r in got}
    # tiny (capacity 120 <= 250 share) saturates: 3 docs x 4 epochs
    assert by["tiny"].tok == 120 and by["tiny"].maxep == 3
    # big water-fills the remaining 380: within one doc of the budget
    assert 370 <= by["big"].tok <= 380 and by["big"].maxep == 0
    # deterministic under repartitioning
    a = sorted((r.doc_id, r.epoch) for r in out.collect())
    b = sorted(
        (r.doc_id, r.epoch)
        for r in SA.unimax_sample(
            df.repartition(7), "doc_id", "lang", "n_tok", 500.0, 4.0
        ).collect()
    )
    assert a == b


def test_sq8_topk_recall_vs_exact(spark):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter(F.col("vec_id") < 15)
    exact = S.cosine_topk(df, qs, "embedding", "vec_id", 5)
    quant = S.sq8_topk(df, qs, "embedding", "vec_id", 5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    q = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    # int8 quantization perturbs cosine by ~1e-3 at 64 dims: top-5 overlap
    # stays high even on isotropic (worst-case, near-tied) vectors
    assert len(e & q) / len(e) >= 0.8
    # planted exact twin must be every quantized query's top neighbor
    twin = df.withColumn("vec_id", F.col("vec_id") + 1000)
    got = S.sq8_topk(df.unionByName(twin), qs, "embedding", "vec_id", 5)
    top1 = {r.query_id: r.neighbor_id for r in got.filter(F.col("rank") == 1).collect()}
    assert top1 == {i: i + 1000 for i in range(15)}


def test_sq8_topk_zero_vector_guard(spark):
    # r11 ADVICE fix: a zero vector quantizes to all-zero codes and cosine
    # would be 0/0 = NaN — Spark sorts NaN ABOVE every double, so an
    # unguarded zero corpus row would rank #1 for every query. The guard
    # filters zero-norm rows from both sides instead.
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(20)]
    rows.append((99, [0.0] * 8))  # zero-norm corpus row
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter(F.col("vec_id").isin(0, 99))
    got = S.sq8_topk(df, qs, "embedding", "vec_id", 3).collect()
    # the zero corpus row is never a neighbor, the zero query emits no rows
    assert all(r.neighbor_id != 99 for r in got)
    assert {r.query_id for r in got} == {0}
    assert all(not (r.sim != r.sim) for r in got)  # no NaNs survive


def test_train_hashed_classifier_separates_and_is_partition_invariant(spark):
    # r11: the learning half of the hashed classifier (DCLM/FineWeb-Edu
    # recipe). Two checks: (a) 2 GD iterations separate an easy binary
    # label; (b) the integer-micro-unit gradient contract makes the whole
    # trajectory partitioning-invariant (order-free sums).
    rows = [(i, ("good clean prose here " * 3) + f"doc {i}", 1) if i % 2 == 0
            else (i, ("spam buy now click " * 3) + f"doc {i}", 0)
            for i in range(40)]
    rows.append((99, "   ", 1))  # blank doc: no features, scores sigmoid(bias)
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w1, b1 = TX.train_hashed_classifier(
        df, "text", "doc_id", "y", num_buckets=64, iterations=2, lr=5.0)
    w2, b2 = TX.train_hashed_classifier(
        df.repartition(13), "text", "doc_id", "y",
        num_buckets=64, iterations=2, lr=5.0)
    assert b1 == b2
    assert sorted(map(tuple, w1.collect())) == sorted(map(tuple, w2.collect()))
    out = {r.doc_id: r.clf_score for r in TX.score_hashed_classifier(
        df, "text", "doc_id", w1, b1, num_buckets=64).collect()}
    pos = [v for k, v in out.items() if k % 2 == 0 and k != 99]
    neg = [v for k, v in out.items() if k % 2 == 1]
    assert sum(pos) / len(pos) > 0.5 > sum(neg) / len(neg)
    import math
    assert abs(out[99] - round(1.0 / (1.0 + math.exp(-b1)), 4)) < 1e-9


def test_score_hashed_classifier_feats_reuse_identical(spark):
    # r13: scoring with training's returned feature frame must be
    # bit-identical to scoring from scratch (the reuse skips the second
    # full-corpus featurize pass; same micro-unit fracs by construction).
    rows = [(i, ("good clean prose here " * 3) + f"doc {i}", i % 2)
            for i in range(30)]
    rows.append((99, "   ", 1))  # zero-feature doc: absent from feats
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b, feats = TX.train_hashed_classifier(
        df, "text", "doc_id", "y", num_buckets=64, iterations=2, lr=5.0,
        return_feats=True)
    fresh = {r.doc_id: r.clf_score for r in TX.score_hashed_classifier(
        df, "text", "doc_id", w, b, num_buckets=64).collect()}
    reused = {r.doc_id: r.clf_score for r in TX.score_hashed_classifier(
        df, "text", "doc_id", w, b, num_buckets=64, feats=feats).collect()}
    assert fresh == reused and 99 in reused
    # the flag-less return stays a 2-tuple (API unchanged for callers)
    w2, b2 = TX.train_hashed_classifier(
        df, "text", "doc_id", "y", num_buckets=64, iterations=2, lr=5.0)
    assert b2 == b


def test_train_hashed_classifier_feats_param_identical(spark):
    # r14: training on a pre-filtered full-corpus feature frame must walk
    # the bit-identical trajectory as the internal featurize (per-doc fracs
    # are independent across docs, so a full-corpus featurize filtered to
    # df's ids == featurizing df) — the featurize-once-filter-per-split
    # hook q_classifier_eval rides.
    from pyspark.sql import functions as F

    rows = [(i, ("good clean prose here " * 3) + f"doc {i}", i % 2)
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    train = df.filter(F.col("doc_id") % 3 != 0)
    w_ref, b_ref = TX.train_hashed_classifier(
        train, "text", "doc_id", "y", num_buckets=64, iterations=2, lr=5.0)
    mu = 10**6
    full = (TX.hashed_feature_fracs(df, "text", "doc_id", 64, "w")
            .withColumn("__fm", F.round(F.col("frac") * mu).cast("long"))
            .localCheckpoint(eager=True))
    w_f, b_f = TX.train_hashed_classifier(
        train, "text", "doc_id", "y", num_buckets=64, iterations=2, lr=5.0,
        feats=full.filter(F.col("doc_id") % 3 != 0))
    assert b_f == b_ref
    ref = {r.bucket: r.weight for r in w_ref.collect()}
    got = {r.bucket: r.weight for r in w_f.collect()}
    assert got == ref


def test_evaluate_classifier_thresholds(spark):
    # r12: hand-computable confusion table; undefined ratios are NULL.
    scored = spark.createDataFrame(
        [(1, 0.9), (1, 0.6), (1, 0.2), (0, 0.7), (0, 0.1)],
        "y int, s double",
    )
    out = {
        r.threshold: r
        for r in TX.evaluate_classifier_thresholds(
            scored, "y", "s", [0.5, 0.95]
        ).collect()
    }
    r5 = out[0.5]
    assert (r5.tp, r5.fp, r5.fn, r5.tn) == (2, 1, 1, 1)
    assert (r5.prec, r5.rec) == (round(2 / 3, 6), round(2 / 3, 6))
    assert r5.f1 == round(4 / 6.0, 6)
    r95 = out[0.95]  # no score reaches 0.95: precision undefined -> NULL
    assert (r95.tp, r95.fp, r95.fn, r95.tn) == (0, 0, 3, 2)
    assert r95.prec is None and r95.rec == 0.0 and r95.f1 == 0.0


def test_classifier_auc_hand_computed(spark):
    # r12: Mann-Whitney AUC with average-rank ties. pos=[0.9,0.7,0.5],
    # neg=[0.7,0.3]: U = 2 + (1 + 0.5) + 1 = 4.5, P*N = 6 -> AUC 0.75.
    scored = spark.createDataFrame(
        [(1, 0.9), (1, 0.7), (1, 0.5), (0, 0.7), (0, 0.3)],
        "y int, s double",
    )
    row = TX.classifier_auc(scored, "y", "s").collect()[0]
    assert (row.auc, row.n_pos, row.n_neg) == (0.75, 3, 2)
    # perfect separation -> 1.0; reversed -> 0.0
    sep = spark.createDataFrame([(1, 0.9), (0, 0.1)], "y int, s double")
    assert TX.classifier_auc(sep, "y", "s").collect()[0].auc == 1.0
    rev = spark.createDataFrame([(1, 0.1), (0, 0.9)], "y int, s double")
    assert TX.classifier_auc(rev, "y", "s").collect()[0].auc == 0.0
    # a single class has no ranking to measure: NULL, not 0.5
    onec = spark.createDataFrame([(1, 0.9), (1, 0.1)], "y int, s double")
    assert TX.classifier_auc(onec, "y", "s").collect()[0].auc is None


def test_classifier_pr_auc_hand_computed(spark):
    # r13: step-wise AP over distinct-score blocks, descending. pos=[0.9,
    # 0.7,0.5], neg=[0.7,0.3]: terms (1/3)(1/1) + (1/3)(2/3) + (1/3)(3/4)
    # = 29/36 -> 0.805556.
    scored = spark.createDataFrame(
        [(1, 0.9), (1, 0.7), (1, 0.5), (0, 0.7), (0, 0.3)],
        "y int, s double",
    )
    row = TX.classifier_pr_auc(scored, "y", "s").collect()[0]
    assert (row.pr_auc, row.n_pos, row.n_neg) == (round(29 / 36, 6), 3, 2)
    sep = spark.createDataFrame([(1, 0.9), (0, 0.1)], "y int, s double")
    assert TX.classifier_pr_auc(sep, "y", "s").collect()[0].pr_auc == 1.0
    # reversed ranking: the one positive sits under the negative -> 0.5
    rev = spark.createDataFrame([(1, 0.1), (0, 0.9)], "y int, s double")
    assert TX.classifier_pr_auc(rev, "y", "s").collect()[0].pr_auc == 0.5
    # no positives: AP undefined -> NULL, not 0
    negs = spark.createDataFrame([(0, 0.9), (0, 0.1)], "y int, s double")
    assert TX.classifier_pr_auc(negs, "y", "s").collect()[0].pr_auc is None
    # guard parity with classifier_auc: bad rows raise
    import pytest

    bad = spark.createDataFrame([(1, 0.9), (None, 0.5)], "y int, s double")
    with pytest.raises(ValueError, match="1/"):
        TX.classifier_pr_auc(bad, "y", "s")


def test_classifier_calibration_hand_computed(spark):
    # r13: 10-bin reliability table; 1.0 clamps into the top bin; bin means
    # are integer 4-dp score units divided once (order-free exact).
    scored = spark.createDataFrame(
        [(1, 0.95), (0, 0.92), (1, 0.5), (0, 0.45), (1, 1.0)],
        "y int, s double",
    )
    out = {
        r.bin: r for r in TX.classifier_calibration(scored, "y", "s").collect()
    }
    assert set(out) == {4, 5, 9}
    b9 = out[9]
    assert (b9.n, b9.n_pos) == (3, 2)
    assert b9.mean_score == round(28700 / 30000.0, 6)
    assert b9.pos_rate == round(2 / 3, 6)
    assert (out[5].n, out[5].n_pos, out[5].mean_score, out[5].pos_rate) == (
        1, 1, 0.5, 1.0
    )
    assert (out[4].n, out[4].n_pos, out[4].mean_score, out[4].pos_rate) == (
        1, 0, 0.45, 0.0
    )


def test_eval_and_auc_raise_on_bad_rows(spark):
    # r13 (closing the r12 low advice): NULL labels/scores and labels
    # outside {0,1} would evaluate NULL->0 in every when/otherwise branch
    # and silently vanish from all confusion/rank counts — mirror the
    # train-side guard and raise with the count instead.
    import pytest

    null_label = spark.createDataFrame(
        [(1, 0.9), (None, 0.5), (0, 0.1)], "y int, s double"
    )
    null_score = spark.createDataFrame(
        [(1, 0.9), (0, None)], "y int, s double"
    )
    off_domain = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (0, 0.1)], "y int, s double"
    )
    for bad in (null_label, null_score, off_domain):
        with pytest.raises(ValueError, match="1/"):
            TX.evaluate_classifier_thresholds(bad, "y", "s", [0.5]).collect()
        with pytest.raises(ValueError, match="1/"):
            TX.classifier_auc(bad, "y", "s")
    # clean frames still evaluate (the guard adds no false positives)
    ok = spark.createDataFrame([(1, 0.9), (0, 0.1)], "y int, s double")
    assert TX.classifier_auc(ok, "y", "s").collect()[0].auc == 1.0


def test_classifier_auc_distinct_score_guard(spark):
    # r13 (verdict #6): the exact-AUC rank window is single-partition over
    # one row per DISTINCT score — model-sized only when scores are
    # quantized. Unrounded doubles past max_distinct_scores must raise
    # instead of silently degrading to a corpus-sized one-task sort.
    import pytest

    raw = spark.createDataFrame(
        [(i % 2, 1.0 / (1.0 + 2.718281828 ** -(i * 0.001357)))
         for i in range(400)],
        "y int, s double",
    )
    with pytest.raises(ValueError, match="distinct"):
        TX.classifier_auc(raw, "y", "s", max_distinct_scores=100)
    # the same frame rounded to 2 dp collapses under the bound and runs
    rounded = raw.select("y", F.round("s", 2).alias("s"))
    assert TX.classifier_auc(rounded, "y", "s", max_distinct_scores=100) \
        .collect()[0].n_pos == 200


def test_train_hashed_classifier_raises_on_null_labels(spark):
    # r12 (closing the r11 advice): a NULL label would silently drop the
    # row from both gradient sums while n_docs still counts it — training
    # on a different effective dataset with no signal. Raise instead.
    import pytest

    df = spark.createDataFrame(
        [(1, "good text", 1), (2, "bad text", 0), (3, "mystery text", None)],
        "doc_id long, text string, y int",
    )
    with pytest.raises(ValueError, match="NULL label"):
        TX.train_hashed_classifier(
            df, "text", "doc_id", "y", num_buckets=16, iterations=1
        )
    # the advice's exact latent shape: a bare boolean cast propagates NULL
    # through (lang == 'en').cast('int') — must raise, steering callers to
    # when/otherwise
    bdf = spark.createDataFrame(
        [(1, "good text", "en"), (2, "bad text", None)],
        "doc_id long, text string, lang string",
    ).select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("y")
    )
    with pytest.raises(ValueError, match="NULL label"):
        TX.train_hashed_classifier(
            bdf, "text", "doc_id", "y", num_buckets=16, iterations=1
        )
