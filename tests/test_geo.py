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
    output as the nested-loop broadcast join on any zone table."""
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


def test_revgeo_multi_zone_probes_its_input_once(spark):
    """revgeo_multi_zone spreads its input with one fan_out probe and chains
    its per-zone joins without probing again. A probe of a plan that holds
    an exchange runs that plan's shuffle and broadcast stages, so probing
    each join's input ran 5 extra jobs here. The input's own probe is taken
    (and memoized) first; what construction runs beyond it is nothing with
    grid=False, and in auto mode the folded zone-stats collect alone (one
    action, which AQE runs as a map-stage job plus a result job)."""
    from datetime import datetime

    from data_rivers_spark.operators.geo import revgeo_multi_zone
    from data_rivers_spark.session import fan_out

    def zone(name, x0):
        return spark.createDataFrame(
            [(name, f"POLYGON(({x0} 0, {x0 + 4} 0, {x0 + 4} 4, {x0} 4, {x0} 0))",
              datetime(2000, 1, 1), None)],
            "zone string, geometry string, start_date timestamp, end_date timestamp",
        )

    zones = {"za": zone("a", 0), "zb": zone("b", 2), "zc": zone("c", 4)}
    pts = spark.range(40).repartition(8).selectExpr(
        "id", "CAST(id % 10 AS DOUBLE) + 0.5 AS px", "1.0 AS py",
        "TIMESTAMP '2010-06-01' AS d",
    )
    fan_out(pts)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def construct(grid):
        group = f"revgeo_multi_zone_construction_{grid}"
        sc.setJobGroup(group, "construction")
        try:
            out = revgeo_multi_zone(pts, zones, "px", "py", "d", grid=grid)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sites = {tracker.getStageInfo(s).name
                 for j in tracker.getJobIdsForGroup(group)
                 for s in tracker.getJobInfo(j).stageIds}
        return out, sites

    _, sites = construct(False)
    assert sites == set()
    out, sites = construct("auto")
    assert len(sites) == 1 and next(iter(sites)).startswith("collect at ")
    got = {r.id: (r.za, r.zb, r.zc) for r in out.collect()}
    assert got[0] == ("a", None, None)  # px 0.5
    assert got[3] == ("a", "b", None)  # px 3.5
    assert got[9] == (None, None, None)  # px 9.5: past every zone
