"""Driver-latency decomposition for composite queries (optimization guide
§1 applied to the driver): per bench-protocol iteration, split the wall into

  construct : fn(spark, sf_dir) — plan building, py4j traffic, and every
              EAGER localCheckpoint barrier the composite fires at
              construction time
  save      : the noop-sink write of the returned frame

and count the Spark jobs each phase launches (jobs during construct are
eager-barrier/collect jobs; a composite whose construct phase dominates is
driver-latency-bound, the r13 verdict's #1 finding). Optional --cprofile
dumps the construct phase's top cumulative-time driver frames.

Usage:
    python tools/profile_construct.py q_incremental_dedup q_curation_pipeline
    python tools/profile_construct.py --cprofile q_incremental_dedup_grouped
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _release_new_rdds  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
    do_cprofile = "--cprofile" in args
    if do_cprofile:
        args.remove("--cprofile")
    iters = 3
    if "--iters" in args:
        i = args.index("--iters")
        iters = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from data_rivers_spark.plans import registry
    from data_rivers_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="profile_construct")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    keep: set = set()
    for name in args:
        fn = registry.QUERIES[name]
        # warmup (bench protocol: JIT + first-run planning untimed)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _release_new_rdds(spark, keep)
        print(f"\n=== {name}")
        for i in range(iters):
            jobs0 = len(tracker.getJobIdsForGroup(None))
            t0 = time.time()
            if do_cprofile and i == iters - 1:
                prof = cProfile.Profile()
                prof.enable()
                df = fn(spark, sf_dir)
                prof.disable()
            else:
                df = fn(spark, sf_dir)
            t1 = time.time()
            jobs1 = len(tracker.getJobIdsForGroup(None))
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            jobs2 = len(tracker.getJobIdsForGroup(None))
            _release_new_rdds(spark, keep)
            print(
                f"  iter {i}: construct={t1 - t0:6.3f}s ({jobs1 - jobs0:3d} jobs)"
                f"  save={t2 - t1:6.3f}s ({jobs2 - jobs1:3d} jobs)"
                f"  total={t2 - t0:6.3f}s"
            )
        if do_cprofile:
            s = io.StringIO()
            ps = pstats.Stats(prof, stream=s).sort_stats("cumulative")
            ps.print_stats(30)
            print(s.getvalue())


if __name__ == "__main__":
    main()
