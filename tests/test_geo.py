"""Point-in-polygon correctness on non-rectangular shapes (the oracle queries
cover rectangles; these pin triangles, concave rings, and edge behavior)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_rivers_spark.functions.geo import (
    point_in_wkt_geom,
    point_in_wkt_polygon,
    polygon_centroid,
    wkt_polygon_vertices,
    wkt_rings,
)

TRIANGLE = "POLYGON((0 0, 10 0, 5 10, 0 0))"
# U-shaped concave polygon: the notch (4..6, 2..10) is outside
CONCAVE = "POLYGON((0 0, 10 0, 10 10, 6 10, 6 2, 4 2, 4 10, 0 10, 0 0))"


def _check(spark, wkt, points):
    df = spark.createDataFrame(points, "px double, py double")
    out = df.withColumn(
        "inside", point_in_wkt_polygon(F.col("px"), F.col("py"), F.lit(wkt))
    )
    return [r.inside for r in out.collect()]


def test_triangle(spark):
    got = _check(
        spark,
        TRIANGLE,
        [(5.0, 1.0), (5.0, 9.9), (0.5, 5.0), (9.5, 5.0), (5.0, -1.0), (11.0, 0.5)],
    )
    assert got == [True, True, False, False, False, False]


def test_concave(spark):
    got = _check(
        spark,
        CONCAVE,
        [(2.0, 5.0), (8.0, 5.0), (5.0, 5.0), (5.0, 1.0), (5.0, 11.0), (-1.0, 5.0)],
    )
    #          left arm      right arm    notch       bridge      above       outside
    assert got == [True, True, False, True, False, False]


def test_centroid(spark):
    df = spark.createDataFrame([("POLYGON((2 4, 6 4, 6 8, 2 8, 2 4))",)], "wkt string")
    out = df.select(
        polygon_centroid(wkt_polygon_vertices(F.col("wkt"))).alias("c")
    ).collect()[0]["c"]
    assert (out["x"], out["y"]) == (4.0, 6.0)


def test_centroid_concave_shoelace(spark):
    # L-shape [0,3]×[0,1] ∪ [0,1]×[1,3]: area 5, true centroid (1.1, 1.1);
    # a vertex average would give (4/3, 4/3)
    lshape = "POLYGON((0 0, 3 0, 3 1, 1 1, 1 3, 0 3, 0 0))"
    df = spark.createDataFrame([(lshape,)], "wkt string")
    out = df.select(
        polygon_centroid(wkt_polygon_vertices(F.col("wkt"))).alias("c")
    ).collect()[0]["c"]
    assert abs(out["x"] - 1.1) < 1e-9 and abs(out["y"] - 1.1) < 1e-9


def test_centroid_orientation_independent(spark):
    cw = "POLYGON((2 4, 2 8, 6 8, 6 4, 2 4))"  # clockwise traversal
    df = spark.createDataFrame([(cw,)], "wkt string")
    out = df.select(
        polygon_centroid(wkt_polygon_vertices(F.col("wkt"))).alias("c")
    ).collect()[0]["c"]
    assert (out["x"], out["y"]) == (4.0, 6.0)


def test_centroid_degenerate_falls_back(spark):
    # zero-area ring (a repeated point) → vertex-average fallback, not NaN
    df = spark.createDataFrame([("POLYGON((5 7, 5 7, 5 7, 5 7))",)], "wkt string")
    out = df.select(
        polygon_centroid(wkt_polygon_vertices(F.col("wkt"))).alias("c")
    ).collect()[0]["c"]
    assert (out["x"], out["y"]) == (5.0, 7.0)


def _check_geom(spark, wkt, points):
    df = spark.createDataFrame(points, "px double, py double")
    out = df.withColumn(
        "inside", point_in_wkt_geom(F.col("px"), F.col("py"), F.lit(wkt))
    )
    return [r.inside for r in out.collect()]


def test_polygon_with_hole(spark):
    donut = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    got = _check_geom(
        spark, donut, [(2.0, 2.0), (5.0, 5.0), (5.0, 3.0), (11.0, 5.0), (4.5, 5.9)]
    )
    #            ring      in hole    between    outside    in hole
    assert got == [True, False, True, False, False]


def test_multipolygon_disjoint_parts(spark):
    two = "MULTIPOLYGON(((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))"
    got = _check_geom(
        spark, two, [(2.0, 2.0), (12.0, 2.0), (7.0, 2.0), (-1.0, 2.0), (14.5, 2.0)]
    )
    assert got == [True, True, False, False, False]


def test_multipolygon_with_hole_ring_count(spark):
    mp = (
        "MULTIPOLYGON(((0 0, 20 0, 20 8, 0 8, 0 0), (10 2, 12 2, 12 4, 10 4, 10 2)), "
        "((30 0, 40 0, 40 8, 30 8, 30 0)))"
    )
    df = spark.createDataFrame([(mp,)], "wkt string")
    rings = df.select(F.size(wkt_rings(F.col("wkt"))).alias("n")).collect()[0]["n"]
    assert rings == 3
    got = _check_geom(
        spark, mp, [(5.0, 5.0), (11.0, 3.0), (35.0, 4.0), (25.0, 4.0)]
    )
    #            part1     in hole     part2      gap
    assert got == [True, False, True, False]


def test_revgeo_grid_equals_nested_loop(spark):
    """The grid-cell equi-join prefilter must be a pure optimization: same
    output as the join-free projection on any zone table."""
    from data_rivers_spark.operators.geo import revgeo_timebound_join

    zones = spark.createDataFrame(
        [
            (f"z{i}", f"POLYGON(({2*i} 0, {2*i+2} 0, {2*i+2} 10, {2*i} 10, {2*i} 0))",
             "2000-01-01", None if i % 2 == 0 else "2015-01-01")
            for i in range(30)
        ],
        "zone string, geometry string, start_date string, end_date string",
    ).selectExpr(
        "zone", "geometry",
        "CAST(start_date AS TIMESTAMP) AS start_date",
        "CAST(end_date AS TIMESTAMP) AS end_date",
    )
    pts = spark.range(500).selectExpr(
        "id",
        "CAST(id % 65 AS DOUBLE) + 0.5 AS px",
        "CAST(id % 11 AS DOUBLE) + 0.25 AS py",
        "TIMESTAMP '2010-06-01' + INTERVAL '1' DAY * CAST(id % 4000 AS INT) AS d",
    )
    a = revgeo_timebound_join(pts, zones, "px", "py", "d", grid=False)
    b = revgeo_timebound_join(pts, zones, "px", "py", "d", grid=True)
    ra = {(r.id, r.zone) for r in a.collect()}
    rb = {(r.id, r.zone) for r in b.collect()}
    assert ra == rb
    assert any(z is not None for _, z in ra) and any(z is None for _, z in ra)


def test_fan_out_spreads_only_underpartitioned(spark):
    """fan_out repartitions a narrow input to defaultParallelism and leaves a
    well-partitioned input untouched (the 100 TB no-op path)."""
    from data_rivers_spark.session import fan_out

    cpus = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    spread = fan_out(narrow)
    assert spread.rdd.getNumPartitions() == cpus
    assert spread.count() == 100

    wide = spark.range(100).repartition(max(cpus, 2))
    assert fan_out(wide) is wide


def _square_zone(spark, name, x0):
    """A one-zone table: the 4x4 square at (x0, 0), valid from 2000 on."""
    from datetime import datetime

    return spark.createDataFrame(
        [(name, f"POLYGON(({x0} 0, {x0 + 4} 0, {x0 + 4} 4, {x0} 4, {x0} 0))",
          datetime(2000, 1, 1), None)],
        "zone string, geometry string, start_date timestamp, end_date timestamp",
    )


def _job_sites(spark, group, build):
    """Run ``build()`` under a job group; return its result and the names of
    the stages the group ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "construction")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sites = {tracker.getStageInfo(s).name
             for j in tracker.getJobIdsForGroup(group)
             for s in tracker.getJobInfo(j).stageIds}
    return out, sites


def test_revgeo_multi_zone_probes_its_input_once(spark):
    """revgeo_multi_zone spreads its input with one fan_out probe, taken (and
    memoized) first, and prepares its zone frames with one collect for all
    types, in grid=False and auto mode alike. A second construction with
    the same frames runs no job: the prepared zones are memoized on the
    frame objects."""
    from data_rivers_spark.operators.geo import revgeo_multi_zone
    from data_rivers_spark.session import fan_out

    def zones():
        return {"za": _square_zone(spark, "a", 0), "zb": _square_zone(spark, "b", 2),
                "zc": _square_zone(spark, "c", 4)}

    pts = spark.range(40).repartition(8).selectExpr(
        "id", "CAST(id % 10 AS DOUBLE) + 0.5 AS px", "1.0 AS py",
        "TIMESTAMP '2010-06-01' AS d",
    )
    fan_out(pts)
    for grid in (False, "auto"):
        frames = zones()
        _, sites = _job_sites(spark, f"revgeo_multi_zone_first_{grid}",
                              lambda: revgeo_multi_zone(pts, frames, "px", "py", "d", grid=grid))
        assert sites == {"collect at operators.geo._zone_facts"}
        out, sites = _job_sites(spark, f"revgeo_multi_zone_again_{grid}",
                                lambda: revgeo_multi_zone(pts, frames, "px", "py", "d", grid=grid))
        assert sites == set()
        got = {r.id: (r.za, r.zb, r.zc) for r in out.collect()}
        assert got[0] == ("a", None, None)  # px 0.5
        assert got[3] == ("a", "b", None)  # px 3.5
        assert got[9] == (None, None, None)  # px 9.5: past every zone


def test_revgeo_multi_zone_equals_left_join(spark):
    """Both plans of revgeo_multi_zone give the rows of a chained LEFT JOIN
    whose ON clause is the ray cast plus the validity interval: a point
    outside every zone keeps one NULL row, overlapping zones duplicate it,
    an expired interval never matches and a NULL end_date is open-ended,
    NULL coordinates and unparseable WKT match nothing, and an int zone
    column (with DATE intervals) keeps its type."""
    from collections import Counter
    from datetime import date, datetime

    from data_rivers_spark.functions.geo import point_in_polygon
    from data_rivers_spark.operators.geo import revgeo_multi_zone

    def poly(x0, x1):
        return f"POLYGON(({x0} 0, {x1} 0, {x1} 4, {x0} 4, {x0} 0))"

    ts = "zone string, geometry string, start_date timestamp, end_date timestamp"
    named = spark.createDataFrame(
        [
            ("a", poly(0, 4), datetime(2000, 1, 1), None),  # open-ended
            ("b", poly(2, 6), datetime(2000, 1, 1), None),  # overlaps a on [2, 4]
            ("old", poly(6, 8), datetime(2000, 1, 1), datetime(2005, 1, 1)),  # expired
            ("bad", "POLYGON((garbage))", datetime(2000, 1, 1), None),
        ],
        ts,
    )
    numbered = spark.createDataFrame(
        [(7, poly(0, 5), date(2000, 1, 1), None), (8, poly(5, 10), date(2000, 1, 1), date(2012, 1, 1))],
        "zone int, geometry string, start_date date, end_date date",
    )
    pts = spark.createDataFrame(
        [
            (0, 1.0, 1.0, datetime(2010, 6, 1)),  # a only
            (1, 3.0, 1.0, datetime(2010, 6, 1)),  # a and b
            (2, 7.0, 1.0, datetime(2001, 6, 1)),  # old, in its interval
            (3, 7.0, 1.0, datetime(2010, 6, 1)),  # old, expired
            (4, 20.0, 1.0, datetime(2010, 6, 1)),  # outside every zone
            (5, None, 1.0, datetime(2010, 6, 1)),  # NULL x
            (6, 1.0, None, datetime(2010, 6, 1)),  # NULL y
            (7, 9.0, 1.0, datetime(2013, 6, 1)),  # past zone 8's end date
        ],
        "id int, px double, py double, d timestamp",
    )
    tables = {"named": named, "numbered": numbered}

    ref = pts
    for out_col, zones in tables.items():
        z = zones.withColumn("__v", wkt_polygon_vertices(F.col("geometry")))
        on = (
            point_in_polygon(ref["px"], ref["py"], z["__v"])
            & (z["start_date"] <= ref["d"])
            & (ref["d"] <= F.coalesce(z["end_date"], F.current_timestamp()))
        )
        ref = ref.join(z, on, "left").select(*[ref[c] for c in ref.columns],
                                             z["zone"].alias(out_col))
    want = Counter(tuple(r) for r in ref.collect())
    assert want[(1, 3.0, 1.0, datetime(2010, 6, 1), "b", 7)] == 1  # the duplicated row
    assert len(want) == 9
    for grid in (False, True):
        got = revgeo_multi_zone(pts, tables, "px", "py", "d", grid=grid)
        assert got.dtypes == ref.dtypes
        assert Counter(tuple(r) for r in got.collect()) == want, grid


def test_revgeo_multizone_plans_no_join_below_threshold(spark):
    """The registry's multi-zone query attaches its small zone tables with a
    projection; its forced-grid twin keeps the cell-keyed hash join."""
    from tests.test_plan_contracts import _plan

    plan = _plan(spark, "q_revgeo_multizone")
    assert "BroadcastNestedLoopJoin" not in plan and "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" in _plan(spark, "q_revgeo_multizone_grid")


def test_revgeo_zone_memo_is_weak_fresh_and_small(spark, tmp_path):
    """The prepared-zone memo is keyed to frame objects: a re-read of a
    rewritten path (the same plan, new rows) is collected afresh, never
    served stale; entries are per application, hold the zone array only for
    a projected type, and die with their frame."""
    import gc
    import weakref

    from data_rivers_spark.operators import geo as G

    pts = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 5.0, 1.0)], "id int, px double, py double"
    ).selectExpr("*", "TIMESTAMP '2010-06-01' AS d")
    path = str(tmp_path / "zones")

    def read_version(name):
        _square_zone(spark, name, 0).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    v1 = read_version("old")
    assert [r.zone for r in G.revgeo_timebound_join(pts, v1, "px", "py", "d").orderBy("id").collect()] == ["old", None]
    v2 = read_version("new")
    assert [r.zone for r in G.revgeo_timebound_join(pts, v2, "px", "py", "d").orderBy("id").collect()] == ["new", None]

    (key, facts), = G._ZONE_MEMO[v2].items()
    assert key[0] == spark.sparkContext.applicationId
    assert facts.n == 1 and facts.array is not None

    # above the threshold: the grid join, and no zone rows in the memo
    big = spark.range(10).selectExpr(
        "CAST(id AS STRING) AS zone",
        "concat('POLYGON((', id, ' 0, ', id + 1, ' 0, ', id + 1, ' 4, ', id, ' 4, ', id, ' 0))')"
        " AS geometry",
        "TIMESTAMP '2000-01-01' AS start_date", "CAST(NULL AS TIMESTAMP) AS end_date",
    )
    out = G.revgeo_multi_zone(pts, {"small": v2, "big": big}, "px", "py", "d", grid_threshold=4)
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted((r.id, r.small, r.big) for r in out.collect()) == [(0, "new", "1"), (1, None, "5")]
    (facts,) = G._ZONE_MEMO[big].values()
    assert facts.n == 10 and facts.array is None

    ref = weakref.ref(big)
    del big
    gc.collect()
    assert ref() is None
