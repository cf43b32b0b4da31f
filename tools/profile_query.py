"""Per-query empirical profiler (optimization guide §1/§7): runs registered
queries through the noop sink with the Spark UI enabled and reports, per
query, the job/stage/task breakdown from the UI REST API — stage wall time,
executor run time, shuffle read/write bytes and record counts, task counts.

This is the "open the Stages tab" loop from the guide, scripted: it answers
*where the seconds go* (how many jobs a query launches, which stages
dominate, how many bytes cross each exchange) before any change is made.

Usage:
    python tools/profile_query.py q_dsir_weights q_curation_select_mix
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py --all-headline
    python tools/profile_query.py --iters 2 --json /tmp/prof.json q_dsir_weights

Output: one human-readable block per query plus an optional JSON artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _release_new_rdds  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read().decode())


def profile(names: list[str], sf_dir: str, iters: int) -> dict:
    from data_rivers_spark.plans import registry
    from data_rivers_spark.session import get_spark

    registry.load_all()
    spark = get_spark(
        app_name="profile",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    sc = spark.sparkContext
    base = f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}/api/v1/applications/{sc.applicationId}"

    keep: set = set()
    out: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        # warmup: JIT + any first-run planning cost, untimed (bench protocol)
        sc.setJobDescription(f"warmup:{name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _release_new_rdds(spark, keep)

        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        stages_before = {s["stageId"] for s in _api(base, "/stages")}
        samples = []
        for i in range(iters):
            sc.setJobDescription(f"timed:{name}:{i}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            _release_new_rdds(spark, keep)
        sc.setJobDescription(None)

        jobs = [j for j in _api(base, "/jobs") if j["jobId"] not in jobs_before]
        stages = [
            s
            for s in _api(base, "/stages?status=complete")
            if s["stageId"] not in stages_before
        ]
        stage_rows = []
        for s in sorted(stages, key=lambda s: -s.get("executorRunTime", 0)):
            stage_rows.append(
                {
                    "stageId": s["stageId"],
                    "attempt": s.get("attemptId", 0),
                    "name": s.get("name", "")[:90],
                    "tasks": s.get("numCompleteTasks", 0),
                    "run_ms": s.get("executorRunTime", 0),
                    "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6, 1),
                    "shuf_read_mb": round(s.get("shuffleReadBytes", 0) / 2**20, 3),
                    "shuf_write_mb": round(s.get("shuffleWriteBytes", 0) / 2**20, 3),
                    "shuf_read_recs": s.get("shuffleReadRecords", 0),
                    "input_mb": round(s.get("inputBytes", 0) / 2**20, 3),
                }
            )
        rec = {
            "samples_sec": samples,
            "n_jobs": len(jobs),
            "n_stages": len(stages),
            "n_tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "sum_run_sec": round(sum(s.get("executorRunTime", 0) for s in stages) / 1000, 2),
            "shuf_write_mb_total": round(
                sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20, 3
            ),
            "stages": stage_rows,
        }
        out[name] = rec

        print(f"\n=== {name}: {samples} sec ({iters}x, after warmup)")
        print(
            f"    jobs={rec['n_jobs']} stages={rec['n_stages']} tasks={rec['n_tasks']}"
            f" executor_run_sum={rec['sum_run_sec']}s shuffle_write={rec['shuf_write_mb_total']}MB"
        )
        for s in stage_rows[:12]:
            print(
                f"    stage {s['stageId']:>4} tasks={s['tasks']:>3} run={s['run_ms']:>6}ms"
                f" sread={s['shuf_read_mb']:>8}MB swrite={s['shuf_write_mb']:>8}MB"
                f" in={s['input_mb']:>7}MB  {s['name']}"
            )
        if len(stage_rows) > 12:
            print(f"    ... {len(stage_rows) - 12} more stages")
    return out


def main() -> None:
    args = [a for a in sys.argv[1:]]
    iters = 3
    json_path = None
    if "--iters" in args:
        i = args.index("--iters")
        iters = int(args[i + 1])
        del args[i : i + 2]
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--all-headline" in args:
        import bench

        names = list(bench.HEADLINE)
    else:
        names = args
    res = profile(names, sf_dir, iters)
    if json_path:
        with open(json_path, "w") as f:
            json.dump(res, f, indent=1)
        print(f"\nwrote {json_path}")


if __name__ == "__main__":
    main()
