"""Geospatial relational operators (SURVEY.md §2.3 geo_queries).

revgeo_timebound: the reference's signature query — reverse geocode by
LEFT-joining point facts against small polygon zone tables with a validity
interval (geo_queries.py:4-108, build_piecemeal_revgeo_query
airflow_utils.py:100-127). city_limits_classify: point-in-city with an
exclusion polygon (geo_queries.py:123-154).

Scale design: zone tables are dozens-to-hundreds of rows → explicit
broadcast; the join is a BroadcastNestedLoopJoin whose probe-side predicate
(ray casting) is pure codegen. The fact side streams — no shuffle at any SF.
Past ~64 zones the nested-loop probe (every point × every zone bbox) starts
to dominate, so the join auto-switches to a GRID prefilter: zones explode
into the coarse grid cells their bbox covers (cell edge = max bbox edge, so
≤ 4 cells/zone), points map to exactly one cell, and the join becomes a
Broadcast *Hash* Join on (cell_x, cell_y) with bbox+interval+ray-cast as the
residual — per-point work drops from O(zones) to O(zones sharing the cell).

Plan-time cost: the ray cast needs a spread input, so each public join
calls ``session.fan_out``, whose partition-count probe is free only on a
plan without an exchange. Under AQE a probe of a plan that holds one
executes its shuffle and broadcast stages while the query is still being
built. So the probe goes on the input points, never on a join's output:
``revgeo_multi_zone`` probes once and chains its joins through the
probe-free ``_revgeo_join``."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_rivers_spark.functions.geo import point_in_polygon, wkt_polygon_vertices
from data_rivers_spark.session import fan_out


def _prepared_zones(zones: DataFrame, wkt_col: str) -> DataFrame:
    """Parse zone WKT once on the (tiny) build side, with bounding box.

    The bbox leads the join condition: AND short-circuits left-to-right, so
    the (interpreted, per-edge) ray cast only runs for the ~1 zone whose box
    contains the point instead of all broadcast zones."""
    z = zones.withColumn("__verts", wkt_polygon_vertices(F.col(wkt_col)))
    xs = F.transform(F.col("__verts"), lambda v: v["x"])
    ys = F.transform(F.col("__verts"), lambda v: v["y"])
    return (
        z.withColumn("__xmin", F.array_min(xs))
        .withColumn("__xmax", F.array_max(xs))
        .withColumn("__ymin", F.array_min(ys))
        .withColumn("__ymax", F.array_max(ys))
    )


def revgeo_timebound_join(
    points: DataFrame,
    zones: DataFrame,
    x_col: str,
    y_col: str,
    point_date_col: str,
    zone_col: str = "zone",
    wkt_col: str = "geometry",
    start_col: str = "start_date",
    end_col: str = "end_date",
    out_col: str | None = None,
    grid: bool | str = "auto",
    grid_threshold: int = 512,
    zone_count_hint: int | None = None,
    zone_stats=None,
) -> DataFrame:
    """LEFT OUTER spatial-interval join: attach the zone containing each point
    whose validity interval covers the point's date; non-matching points keep
    NULL (geo_queries.py:53-107: ST_CONTAINS(zone.geometry, point) AND
    start_date <= date <= IFNULL(end_date, CURRENT_DATETIME)).

    ``grid='auto'`` switches from the nested-loop broadcast join to the
    grid-cell equi-join (see module docstring) when the zone table exceeds
    ``grid_threshold`` rows; True/False force either plan. Both plans give
    identical results — the grid only prefilters which (point, zone) pairs
    reach the exact predicate.

    ``grid_threshold=512`` is measured, not guessed (SCALING.md crossover
    table): the BNLJ's per-zone work short-circuits at the 4-comparison
    bbox prefilter — the ray cast only runs for the ~1 bbox-matching zone —
    so BNLJ stays ahead of the grid's explode+hash overhead until the high
    hundreds of zones (measured crossover ≈ 1024 tiling rectangles at
    local[32]; 512 leaves margin for zones with larger bboxes, which raise
    the grid's candidates-per-cell).

    Driver-job budget: auto mode runs AT MOST ONE tiny job on the zone dim
    table — a combined count+bbox-stats aggregation, reused for cell sizing
    if the grid is chosen. Pass ``zone_count_hint`` (or a bool ``grid``) to
    skip even that: with a hint and ``grid=False``-sized dims, plan-time
    cost is zero jobs."""
    # ray casting is the expensive per-row map; a single-split parquet scan
    # would run it on one core — spread first
    return _revgeo_join(
        fan_out(points), zones, x_col, y_col, point_date_col, zone_col=zone_col,
        wkt_col=wkt_col, start_col=start_col, end_col=end_col, out_col=out_col,
        grid=grid, grid_threshold=grid_threshold, zone_count_hint=zone_count_hint,
        zone_stats=zone_stats,
    )


def _revgeo_join(
    points: DataFrame,
    zones: DataFrame,
    x_col: str,
    y_col: str,
    point_date_col: str,
    zone_col: str = "zone",
    wkt_col: str = "geometry",
    start_col: str = "start_date",
    end_col: str = "end_date",
    out_col: str | None = None,
    grid: bool | str = "auto",
    grid_threshold: int = 512,
    zone_count_hint: int | None = None,
    zone_stats=None,
) -> DataFrame:
    """revgeo_timebound_join without the fan_out probe, for callers that
    have already spread ``points`` (see the module docstring)."""
    out_col = out_col or zone_col
    z = _prepared_zones(zones, wkt_col).select(
        F.col(zone_col).alias("__zone_val"),
        F.col("__verts"),
        F.col("__xmin"),
        F.col("__xmax"),
        F.col("__ymin"),
        F.col("__ymax"),
        F.col(start_col).alias("__zstart"),
        F.col(end_col).alias("__zend"),
    )
    # frame-BOUND references, not F.col name lookups: with name-resolved
    # refs Spark 4.1.2's join resolution flakily attributed a point column
    # to the zones side in fresh sessions and pushed a points-predicate
    # below the zone projections — failing task-time binding with
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not find py#N in [id#M]").
    # Bound refs pin every attribute to its owning plan, which is the
    # correct discipline for join conditions anyway.
    px, py, pdate = points[x_col], points[y_col], points[point_date_col]
    cond: Column = (
        (px >= z["__xmin"])
        & (px <= z["__xmax"])
        & (py >= z["__ymin"])
        & (py <= z["__ymax"])
        & (z["__zstart"] <= pdate)
        & (pdate <= F.coalesce(z["__zend"], F.current_timestamp()))
        & point_in_polygon(px, py, z["__verts"])
    )
    # ``zone_stats``: precomputed (n, w, h) for THIS zone table — any object
    # with .n/.w/.h (e.g. a Row from revgeo_multi_zone's single folded
    # stats job, r13). Skips the per-join stats job entirely: an N-way
    # multi-zone enrichment otherwise pays N driver-blocking collect jobs.
    stats = zone_stats
    if isinstance(grid, bool):
        use_grid = grid
    elif stats is not None:
        use_grid = stats.n > grid_threshold
    elif zone_count_hint is not None:
        use_grid = zone_count_hint > grid_threshold
    else:
        # one combined job answers both "how many zones" and, if the grid
        # wins, "how big are the cells" — auto mode never runs two jobs
        stats = z.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("__xmax") - F.col("__xmin")).alias("w"),
            F.max(F.col("__ymax") - F.col("__ymin")).alias("h"),
        ).collect()[0]
        use_grid = stats.n > grid_threshold
    if use_grid:
        # cell edge = max bbox edge across zones (driver-side stats on the
        # tiny zone table) → every zone covers ≤ 2 cells per axis; a point
        # lands in exactly one cell, so candidate pairs per point = zones
        # sharing its cell, not all zones
        if stats is None:
            stats = z.agg(
                F.max(F.col("__xmax") - F.col("__xmin")).alias("w"),
                F.max(F.col("__ymax") - F.col("__ymin")).alias("h"),
            ).collect()[0]
        cw = max(float(stats.w or 0.0), 1e-9)
        ch = max(float(stats.h or 0.0), 1e-9)
        zg = z.withColumn(
            "__cx", F.explode(F.sequence(F.floor(F.col("__xmin") / cw), F.floor(F.col("__xmax") / cw)))
        ).withColumn(
            "__cy", F.explode(F.sequence(F.floor(F.col("__ymin") / ch), F.floor(F.col("__ymax") / ch)))
        )
        pcx, pcy = F.floor(px / cw), F.floor(py / ch)
        joined = points.join(
            F.broadcast(zg), (pcx == F.col("__cx")) & (pcy == F.col("__cy")) & cond, "left"
        ).drop("__cx", "__cy")
    else:
        joined = points.join(F.broadcast(z), cond, "left")
    return joined.withColumn(out_col, F.col("__zone_val")).drop(
        "__zone_val", "__verts", "__xmin", "__xmax", "__ymin", "__ymax", "__zstart", "__zend"
    )


def revgeo_multi_zone(
    points: DataFrame,
    zone_tables: dict[str, DataFrame],
    x_col: str,
    y_col: str,
    point_date_col: str,
    **kwargs,
) -> DataFrame:
    """The 8-way enrichment: one timebound revgeo join per zone type, each
    broadcast (geo_queries.py:4-108 joins neighborhoods, council_districts,
    wards, fire/police zones, dpw_* in a single statement).

    Stats folding (r13): each per-zone join in auto/grid mode needs a
    count+bbox aggregation of its (tiny) zone table — N driver-blocking
    collect jobs for an N-way enrichment, pure latency since each job is
    milliseconds of work. One tagged-union aggregation answers all N at
    once; the per-join stats job is skipped via ``zone_stats``. grid=False
    needs no stats, so nothing is collected there.

    Probe once: one ``fan_out`` spreads the input and the N joins chain
    through the probe-free ``_revgeo_join``. A probe of a join's output
    would execute, at plan time, the round-robin exchange and the zone
    broadcasts already in it."""
    out = fan_out(points)
    stats_by_zone: dict[str, object] = {}
    if kwargs.get("grid", "auto") is not False and len(zone_tables) > 1:
        wkt_col = kwargs.get("wkt_col", "geometry")
        tagged = None
        for out_col, zones in zone_tables.items():
            z = _prepared_zones(zones, wkt_col).select(
                F.lit(out_col).alias("__ztag"),
                (F.col("__xmax") - F.col("__xmin")).alias("__w"),
                (F.col("__ymax") - F.col("__ymin")).alias("__h"),
            )
            tagged = z if tagged is None else tagged.unionByName(z)
        stats_by_zone = {
            r["__ztag"]: r
            for r in tagged.groupBy("__ztag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("__w").alias("w"),
                F.max("__h").alias("h"),
            )
            .collect()
        }
    for out_col, zones in zone_tables.items():
        out = _revgeo_join(
            out, zones, x_col, y_col, point_date_col, out_col=out_col,
            zone_stats=stats_by_zone.get(out_col), **kwargs
        )
    return out


def city_limits_classify(
    points: DataFrame,
    city_wkt: str,
    exclusion_wkt: str | None,
    x_col: str,
    y_col: str,
    type_col: str = "address_type",
    outside_label: str = "Outside of City",
) -> DataFrame:
    """Set address_type = 'Outside of City' where the point is not inside the
    city geometry or falls in the exclusion polygon (Mt Oliver), preserving the
    prior classification otherwise (geo_queries.py:123-154;
    transform_enrich_requests.py:4-35).

    ``city_wkt`` may be POLYGON (optionally with hole rings) or MULTIPOLYGON —
    real city-limit exports ship as MULTIPOLYGON; the Mt-Oliver enclave can be
    expressed either as a hole ring in the city geometry or via
    ``exclusion_wkt``, identically."""
    from data_rivers_spark.functions.geo import point_in_wkt_geom

    points = fan_out(points)  # ray cast per point — spread single-split scans
    in_city = point_in_wkt_geom(F.col(x_col), F.col(y_col), F.lit(city_wkt))
    outside = ~in_city
    if exclusion_wkt is not None:
        in_excl = point_in_wkt_geom(F.col(x_col), F.col(y_col), F.lit(exclusion_wkt))
        outside = outside | in_excl
    return points.withColumn(
        type_col, F.when(outside, F.lit(outside_label)).otherwise(F.col(type_col))
    )


def parcel_centroid_join(
    facts: DataFrame,
    parcels: DataFrame,
    parc_col: str,
    parcel_key: str = "zone",
    wkt_col: str = "geometry",
) -> DataFrame:
    """LEFT JOIN facts to the parcel dim and attach centroid lat/long
    (general_queries.py:75-84: ST_Y(ST_CENTROID(geometry))…)."""
    from data_rivers_spark.functions.geo import polygon_centroid

    p = parcels.withColumn("__c", polygon_centroid(wkt_polygon_vertices(F.col(wkt_col))))
    p = p.select(
        F.col(parcel_key).alias(parc_col),
        F.col("__c")["y"].alias("latitude"),
        F.col("__c")["x"].alias("longitude"),
    )
    return facts.join(F.broadcast(p), parc_col, "left")


def nearest_zone_fallback(
    points: DataFrame,
    zones: DataFrame,
    x_col: str,
    y_col: str,
    zone_col: str = "zone",
    wkt_col: str = "geometry",
    out_col: str = "nearest_zone",
) -> DataFrame:
    """Nearest zone by centroid distance — the practical fallback for points
    that fall outside every polygon (coastline gaps, geocoder jitter).
    Deterministic ties resolve by zone name.

    Scale: centroids are computed once on the tiny zone table and folded into
    an argmin expression — the probe side streams, no shuffle, no UDF."""
    from data_rivers_spark.functions.geo import polygon_centroid, wkt_polygon_vertices

    cents = (
        zones.select(
            F.col(zone_col),
            polygon_centroid(wkt_polygon_vertices(F.col(wkt_col))).alias("__c"),
        )
        .select(zone_col, F.col("__c.x").alias("cx"), F.col("__c.y").alias("cy"))
        .orderBy(zone_col)
        .collect()
    )
    # argmin as array_min over (distance, zone) structs — linear expression
    # size; a chained when(closer, …) fold doubles the tree per zone (OOMs
    # past ~20 zones). Built as one SQL string (r13): the Column-API form
    # paid ~10 py4j roundtrips per zone at plan time (see
    # similarity._assign_to_centroids for the exact-literal argument).
    # degenerate zone rows (NULL/NaN centroid coordinate, NULL zone name —
    # empty or malformed WKT) must keep the Column-API semantics this SQL
    # build replaced (r14 advice): F.lit(None) was a SQL NULL, so map None
    # and non-finite floats to explicit NULL/NaN/Infinity literals instead
    # of crashing plan construction (float(None) → TypeError) or emitting
    # unparseable 'nanD' / the string 'None'
    def _dlit(x) -> str:
        if x is None:
            return "CAST(NULL AS DOUBLE)"
        x = float(x)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return repr(x) + "D"

    def _slit(s) -> str:
        if s is None:
            return "CAST(NULL AS STRING)"
        return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"

    entries = ",".join(
        "named_struct('d', "
        f"(`{x_col}` - {_dlit(r.cx)}) * (`{x_col}` - {_dlit(r.cx)}) + "
        f"(`{y_col}` - {_dlit(r.cy)}) * (`{y_col}` - {_dlit(r.cy)}), "
        f"'z', {_slit(r[zone_col])})"
        for r in cents
    )
    return points.withColumn(out_col, F.expr(f"(array_min(array({entries}))).z"))
