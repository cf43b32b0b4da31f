"""Stage decomposition for the media_dedup scaling cell.

Usage: python tools/decompose_media.py [k] (default 1024)

Replays tools/scaling.py's exact cell (same fixture, same _prep_media
shape: salted content + 1% planted exact twins) but times CUMULATIVE
prefixes of the operator pipeline in ONE JVM, each prefix ending at an
eager materialization so the next prefix reuses nothing un-checkpointed:

  t_phash — perceptual_hash (mapInPandas decode + batched DCT) -> checkpoint
  t_pairs — simhash_near_pairs over the materialized signatures -> checkpoint
            (its own (id, signature) checkpoint re-reads the already
            checkpointed frame, so this prefix times the Manku blocking
            join + verify plus one narrow copy)
  t_anti  — dupes distinct + left_anti back onto the media frame -> noop

Also records n_sigs / n_pairs / n_dupes: a pair count growing faster than
the corpus means quadratic OUTPUT (a fixture defect), while flat-ish pairs
with a blowing t_pairs means the blocking join itself is the wall."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    from data_rivers_spark.operators import dedup as D
    from data_rivers_spark.operators import multimodal as M
    from data_rivers_spark.session import get_spark
    from tools.scaling import _prep_media, materialize_fixture

    spark = get_spark(app_name=f"decompose-media-{k}x")
    fixture = materialize_fixture(spark, "/root/testdata/sf0.1", k)
    frame = (
        spark.read.parquet(os.path.join(fixture, "documents"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    media = _prep_media(frame)["media"]  # untimed, as in the cell

    stages: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        stages[name] = round(time.time() - t0, 2)
        print(f"{name}: {stages[name]}s", flush=True)
        return out

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    sigs = timed(
        "t_phash",
        lambda: M.perceptual_hash(media)
        .filter(F.col("decode_ok"))
        .select("media_id", "phash")
        .localCheckpoint(eager=True),
    )
    counts["n_sigs"] = sigs.count()
    pairs = timed(
        "t_pairs",
        lambda: D.simhash_near_pairs(
            sigs, "media_id", sim_col="phash", max_hamming=3
        ).localCheckpoint(eager=True),
    )
    counts["n_pairs"] = pairs.count()
    dupes = pairs.select(F.col("id_b").alias("media_id")).distinct()
    counts["n_dupes"] = dupes.count()
    timed("t_anti", lambda: noop(media.join(dupes, "media_id", "left_anti")))
    # apples-to-apples control: the WHOLE operator as the scaling cell times
    # it, in THIS same JVM — if this diverges from the stage sum, the
    # one-DAG plan (not the harness) is leaving time on the table
    timed("t_cell", lambda: noop(M.media_dedup(media)))

    print("DECOMPOSE_JSON:" + json.dumps({"k": k, "stages": stages, **counts}))


if __name__ == "__main__":
    main()
