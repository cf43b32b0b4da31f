"""Contract tests for the measurement harnesses.

The SCALING.md table is only meaningful if every cell in a row measured
the same algorithm (tools/scaling.py OP_CONFIG) on the same core count,
and each cell is the min over cold-JVM attempts (_merge_min). Those tests,
and bench.py's artifact/stdout contracts, run without touching Spark; the
bench trace test and the gen_plans ``--out`` test run one small query in
the session.
"""
from __future__ import annotations

import importlib
import json
import os
import pkgutil
import subprocess

import pytest

import tools.scaling as sc


def test_config_reset_drops_mismatched_rows():
    # a row measured under an older algorithm config must be dropped, not
    # min-merged against fresh cells from the new algorithm
    raw = {
        "_config": {"kmeans_semantic_dedup": "flat-blas-r8"},
        "kmeans_semantic_dedup": {"1": 1.0, "256": 50.0},
        # paragraph_dedup has no OP_CONFIG entry (simhash_pairs, the old
        # example here, gained one in r10 and now correctly gets dropped
        # when its stored tag is absent)
        "paragraph_dedup": {"1": 0.5},
    }
    out = sc._apply_config_reset(raw)
    assert "kmeans_semantic_dedup" not in out
    assert out["paragraph_dedup"] == {"1": 0.5}
    assert "_config" not in out


def test_config_reset_keeps_matching_rows():
    raw = {
        "_config": dict(sc.OP_CONFIG),
        **{op: {"1": 1.0} for op in sc.OP_CONFIG},
        "untagged_op": {"1": 2.0},
    }
    out = sc._apply_config_reset(raw)
    for op in sc.OP_CONFIG:
        assert out[op] == {"1": 1.0}
    # rows with no OP_CONFIG entry are never dropped
    assert out["untagged_op"] == {"1": 2.0}


def test_config_reset_handles_legacy_file_without_config_key():
    # pre-r9 files carry no _config: every tagged row is treated as
    # unknown-config and dropped
    raw = {op: {"1": 1.0} for op in sc.OP_CONFIG}
    raw["plain"] = {"4": 3.0}
    out = sc._apply_config_reset(raw)
    assert set(out) == {"plain"}


def test_merge_min_takes_lower_envelope():
    base = {"op": {1: 2.0, 4: 8.0}}
    new = {"op": {1: 1.5, 4: 9.0, 16: 30.0}, "other": {1: 0.3}}
    out = sc._merge_min(base, new)
    assert out["op"] == {1: 1.5, 4: 8.0, 16: 30.0}
    assert out["other"] == {1: 0.3}
    # inputs not mutated
    assert base == {"op": {1: 2.0, 4: 8.0}}


def test_report_ks_is_ks_plus_one_octave():
    assert sc.REPORT_KS[:-1] == sc.KS
    assert sc.REPORT_KS[-1] == 4 * sc.KS[-1]


def test_scaling_history_from_other_core_count_is_dropped(tmp_path, monkeypatch):
    """Cells min-merge only within one host shape: results, peaks and
    telemetry written at another core count, or recording none, load
    empty; a file written at this host's core count still min-merges."""
    monkeypatch.setattr(sc, "RESULTS_JSON", str(tmp_path / "results.json"))
    monkeypatch.setattr(sc, "PEAKS_JSON", str(tmp_path / "peaks.json"))
    monkeypatch.setattr(sc, "TELEM_JSON", str(tmp_path / "telemetry.json"))
    cells = {"exact_dedup": {1: 2.0, 4: 8.0}}
    for path in (sc.RESULTS_JSON, sc.PEAKS_JSON):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        sc._save_cells(path, cells)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
        assert sc._load_cells(path) == {}
        with open(path, "w") as f:  # a file from before the core count
            json.dump({"_config": dict(sc.OP_CONFIG), "exact_dedup": {"1": 2.0}}, f)
        assert sc._load_cells(path) == {}
        sc._save_cells(path, cells)
        assert sc._load_cells(path) == cells
        fresh = {"exact_dedup": {1: 1.5, 4: 9.0, 16: 30.0}}
        assert sc._merge_min(sc._load_cells(path), fresh) == {
            "exact_dedup": {1: 1.5, 4: 8.0, 16: 30.0}
        }

    sample = {"sec": 1.0, "gc_sec": 0.0, "peak_heap_mb": 100.0}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    sc._append_telemetry({"exact_dedup": {1: [sample]}})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    sc._append_telemetry({"exact_dedup": {1: [sample]}})
    sc._append_telemetry({"exact_dedup": {1: [sample]}})
    with open(sc.TELEM_JSON) as f:
        assert json.load(f) == {"_cores": 4, "exact_dedup": {"1": [sample] * 2}}


def test_gen_plans_out_is_stable_across_constructions(spark, sf_dir, tmp_path,
                                                      monkeypatch):
    """``gen_plans.py SF --out DIR NAME ...`` run twice over fresh
    constructions of the same query writes byte-identical files (every
    session counter renumbered), and a PLAN_SKIP query gets its note."""
    from data_rivers_spark import session
    from tools import gen_plans

    monkeypatch.setattr(session, "get_spark", lambda app_name: spark)
    names = ["q_minhash_lsh_dedup", "q_bpe_train_rounds"]
    for d in ("a", "b"):
        gen_plans.main([sf_dir, "--out", str(tmp_path / d), *names])
    a = (tmp_path / "a" / "q_minhash_lsh_dedup.txt").read_bytes()
    assert b"Scan ExistingRDD" in a
    assert a == (tmp_path / "b" / "q_minhash_lsh_dedup.txt").read_bytes()
    skip = (tmp_path / "a" / "q_bpe_train_rounds.txt").read_text()
    assert skip.startswith("(not rendered: ")


def test_bench_round_artifact_is_write_once(tmp_path, monkeypatch):
    """bench.py's round-tagged record must never be clobbered by a second
    run in the same round (the r9 round-close artifact was overwritten by
    the driver's own post-round re-run): later runs overflow to
    {tag}.2.json, {tag}.3.json, ...; an explicit env opt-in restores
    last-write-wins for deliberate re-records."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_OVERWRITE", raising=False)
    d = str(tmp_path)
    p1 = bench._tag_artifact_path(d, "r99")
    assert p1.endswith("r99.json")
    open(p1, "w").write("{}")
    p2 = bench._tag_artifact_path(d, "r99")
    assert p2.endswith("r99.2.json")
    open(p2, "w").write("{}")
    assert bench._tag_artifact_path(d, "r99").endswith("r99.3.json")
    # committed record untouched throughout
    assert open(p1).read() == "{}"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OVERWRITE", "1")
    assert bench._tag_artifact_path(d, "r99").endswith("r99.json")


def _fake_mxbeans(pools_mb: dict[str, tuple[str, int]]):
    """A stand-in for spark.sparkContext._jvm's ManagementFactory whose
    memory pools report the given (type, peak MB) per pool name."""
    from types import SimpleNamespace as NS

    def pool(name, kind, mb):
        return NS(getName=lambda: name, getType=lambda: NS(toString=lambda: kind),
                  getPeakUsage=lambda: NS(getUsed=lambda: mb * 1024 * 1024),
                  resetPeakUsage=lambda: None)

    mf = NS(getGarbageCollectorMXBeans=lambda: [],
            getMemoryPoolMXBeans=lambda: [pool(n, k, mb) for n, (k, mb) in pools_mb.items()])
    jvm = NS(java=NS(lang=NS(management=NS(ManagementFactory=mf))))
    return NS(sparkContext=NS(_jvm=jvm))


def test_peak_heap_is_the_old_generation_peak_not_a_sum_of_pools():
    """Eden, survivor and old generation peak at different moments, so
    their sum overstates the heap (11.3 GB was recorded under an 8g heap);
    the reported peak is the old generation's own, which fits the heap."""
    import bench

    g1 = _fake_mxbeans({
        "G1 Eden Space": ("Heap memory", 5000),
        "G1 Old Gen": ("Heap memory", 6000),
        "G1 Survivor Space": ("Heap memory", 300),
        "Metaspace": ("Non-heap memory", 200),
    })
    jvm = bench._JvmTelemetry(g1)
    jvm.reset_peaks()
    assert jvm.peak_heap_mb() == 6000
    # a collector without an old-generation pool: the largest heap pool
    one_pool = _fake_mxbeans({"ZHeap": ("Heap memory", 700),
                              "CodeHeap": ("Non-heap memory", 900)})
    assert bench._JvmTelemetry(one_pool).peak_heap_mb() == 700


def test_bench_stdout_line_is_tail_proof():
    """The driver keeps only a 2,000-char stdout tail and parses the LAST
    line; a full-result line (tens of KB of per-sample diagnostics)
    survives that tail only by luck — r12's record lost its "queries" dict
    mid-tail and PERF_r13's entire round-over-round table came up null.
    The stdout line must carry the aggregates alone and stay comfortably
    under the tail for the full headline set."""
    import json

    import bench

    result = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "bench_runs": 3,
        "sf": 0.1,
        "iters": {q: [1.234] * 9 for q in bench.HEADLINE},
        "telemetry": {q: [{"sec": 1.2, "gc_sec": 0.1}] for q in bench.HEADLINE},
        "runs": [{q: 1.234 for q in bench.HEADLINE}] * 3,
        "outliers": {},
        "queries": {q: 123.456 for q in bench.HEADLINE},
        "min": {q: 123.456 for q in bench.HEADLINE},
        "calib_sec": 0.269,
        "value": 9999.999,
    }
    line = json.dumps(bench._stdout_line(result))
    assert len(line) < 2000, f"stdout line {len(line)} chars >= 2000"
    parsed = json.loads(line)
    # the driver contract fields survive; the bulky diagnostics do not
    for key in ("metric", "value", "unit", "queries", "sf", "calib_sec"):
        assert key in parsed
    for key in ("iters", "telemetry", "runs", "min", "outliers"):
        assert key not in parsed
    assert set(parsed["queries"]) == set(bench.HEADLINE)


def test_bytes_norm_top_normalizes_char_growth():
    # a char-proportional op whose raw top ratio is 5.3 must read ~4 once
    # normalized to the fixture's measured byte growth
    render = (64, 256, 1024)
    r = {64: 1.0, 256: 4.0, 1024: 4.0 * 5.3}
    byt = {"documents": {64: 100, 256: 400, 1024: int(400 * 5.3)}}
    assert sc._bytes_norm_top("chunk_documents", r, render, byt) == "4.0"
    # embeddings ops normalize against the embeddings table (exact 4x/octave)
    r2 = {256: 1.0, 1024: 3.9}
    byt2 = {"embeddings": {256: 100, 1024: 400}, "documents": {256: 1, 1024: 99}}
    assert sc._bytes_norm_top("kmeans_semantic_dedup", r2, render, byt2) == "3.9"
    # missing bytes for the top pair -> em dash, never a misleading number
    assert sc._bytes_norm_top("exact_dedup", {4: 1.0, 16: 4.0}, (4, 16), {}) == "—"


def _operator_functions() -> dict[tuple[str, str], object]:
    from data_rivers_spark import operators

    out = {}
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if callable(fn) and getattr(fn, "__module__", None) == mod.__name__:
                out[(mod.__name__, name)] = fn
    return out


def _unchanged(before: dict, after: dict) -> bool:
    return before.keys() == after.keys() and all(
        after[k] is fn for k, fn in before.items()
    )


def test_bench_trace_attributes_the_traced_wall_to_layers(spark, sf_dir):
    """One traced iteration: construction in a ``plans`` span, the save in
    a ``sink`` span, operator calls in spans named after their module; the
    layer self-times add up to the traced wall, and every wrapped operator
    function is the original object again afterwards, also when the query
    raises."""
    import bench
    from data_rivers_spark.plans import registry

    registry.load_all()
    before = _operator_functions()
    rec = bench._trace_query(spark, registry.QUERIES["q_minhash_lsh_dedup"], sf_dir)
    assert _unchanged(before, _operator_functions())

    assert {"plans", "sink"} <= {s["name"].split(".")[0] for s in rec["spans"]}
    assert rec["layers"]["dedup"]["jobs"] > 0
    wall = sum(row["wall_s"] for row in rec["layers"].values())
    assert abs(wall - rec["traced_s"]) <= 0.05 * rec["traced_s"], (wall, rec)

    def failing_query(spark_, sf_dir_):
        from data_rivers_spark.operators import dedup

        assert dedup.shingle_sets is not before[(dedup.__name__, "shingle_sets")]
        raise RuntimeError("query failed mid-construction")

    with pytest.raises(RuntimeError, match="mid-construction"):
        bench._trace_query(spark, failing_query, sf_dir)
    assert _unchanged(before, _operator_functions())


def test_bench_only_rejects_unknown_query_before_any_child(monkeypatch):
    import bench

    def no_child(*args, **kwargs):
        raise AssertionError("a bench child was started")

    monkeypatch.setattr(subprocess, "run", no_child)
    with pytest.raises(SystemExit) as exc:
        bench.main(["--only", "q01_pricing_summary", "no_such_query"])
    assert exc.value.code not in (0, None)
    assert "no_such_query" in str(exc.value.code)
    assert "q01_pricing_summary" not in str(exc.value.code)


def test_bench_only_run_is_never_a_round_record(tmp_path, monkeypatch, capsys):
    """A subset run writes only the scratch latest.json, never the
    round-tagged record, never asks a child to regenerate PLANS.md, and its
    stdout line names the queries it ran. A run without options still
    launches the headline children, the last one with ``--plans``, and
    writes the round record."""
    import bench

    def fake_children(names, calls):
        def run(argv, **kwargs):
            calls.append(argv[2:])
            line = {"queries": {q: 1.0 for q in names},
                    "iters": {q: [1.0, 1.2, 1.1] for q in names},
                    "telemetry": {q: [{"sec": 1.0, "gc_sec": 0.0}] for q in names},
                    "calib_sec": 0.3}
            return subprocess.CompletedProcess(
                argv, 0, stdout="PLANS.md noise\n" + json.dumps(line) + "\n", stderr="")
        return run

    monkeypatch.setattr(bench, "OUT_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_TAG", "r99")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_OVERWRITE", raising=False)

    calls: list[list[str]] = []
    monkeypatch.setattr(subprocess, "run", fake_children(["q_exact_dedup"], calls))
    bench.main(["--only", "q_exact_dedup"])
    assert calls == [["--child", "--only", "q_exact_dedup"]] * 2
    assert os.listdir(tmp_path) == ["latest.json"]
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["only"] == ["q_exact_dedup"]
    assert set(line["queries"]) == {"q_exact_dedup"}
    assert line["metric"] != "headline_queries_total"

    calls.clear()
    monkeypatch.setattr(subprocess, "run", fake_children(bench.HEADLINE, calls))
    bench.main([])
    assert calls == [["--child"], ["--child", "--plans"]]
    assert sorted(os.listdir(tmp_path)) == ["latest.json", "r99.json"]
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "only" not in line and line["metric"] == "headline_queries_total"
    assert list(line) == ["metric", "unit", "bench_runs", "sf", "queries",
                          "calib_sec", "value"]
