"""Assignment-stage crossover scan: two-level vs three-level centroid router
on the scaled embeddings fixture — the measurement behind the tree's
_DEEP_CROSSOVER dispatch boundary.

Usage: python tools/bench_router.py --assign-only [n_octave] [k ...]
       (default octave 1024 → ~2.05M vectors; default k ladder
        4096 16384 32768 65536; centroids are the first k fixture
        vectors — assignment cost depends on counts, not centroid
        quality)

Times _assign_to_centroids_hierarchical (two-level) vs
_assign_to_centroids_tree (three-level) on a fixed corpus across a
centroid-count ladder, same JVM, warm-up on a 5k sample first, min of 2
timed runs per cell. A full kmeans_semantic_dedup cell dilutes the
assignment gap behind the pair/CC stages (r10 measured 9% at k=27k; the
record is in tools/scaling.py CELL_NOTES); this scan isolates the term that
actually drifts (two-level ~5·sqrt(k)·dim per point vs tree
~9·k^(1/3)·dim) and locates the k where the tree should take the
dispatch."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if "--assign-only" not in sys.argv:
        sys.exit(__doc__)
    argv = [a for a in sys.argv[1:] if a != "--assign-only"]
    n_oct = int(argv[0]) if argv else 1024
    ks = [int(x) for x in argv[1:]] or [4096, 16384, 32768, 65536]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    from data_rivers_spark.operators import similarity as S
    from data_rivers_spark.session import get_spark
    from tools.scaling import materialize_fixture

    spark = get_spark(app_name=f"bench-assign-{n_oct}x")
    fixture = materialize_fixture(spark, "/root/testdata/sf0.1", n_oct)
    emb = (
        spark.read.parquet(os.path.join(fixture, "embeddings"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    results: dict[str, dict[str, float]] = {}
    for k in ks:
        cents = [r.embedding for r in emb.limit(k).collect()]
        row: dict[str, float] = {}
        for router, fn in (
            ("hier", S._assign_to_centroids_hierarchical),
            ("deep", S._assign_to_centroids_tree),
        ):
            warm = emb.limit(5000).localCheckpoint(eager=True)
            fn(warm, "embedding", cents).write.format("noop").mode(
                "overwrite"
            ).save()
            warm.unpersist()
            best = None
            for _ in range(2):
                t0 = time.time()
                fn(emb, "embedding", cents).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                print(f"k={k} {router}: sample {round(dt, 2)}s", flush=True)
            row[router] = round(best, 2)
        results[str(k)] = row
        print(f"ASSIGN_ROW:{json.dumps({'k': k, **row})}", flush=True)
    print("ASSIGN_JSON:" + json.dumps({"n_octave": n_oct, "n": n, **results}))


if __name__ == "__main__":
    main()
