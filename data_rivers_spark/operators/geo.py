"""Geospatial relational operators (SURVEY.md §2.3 geo_queries).

revgeo_timebound: the reference's signature query — reverse geocode by
LEFT-joining point facts against small polygon zone tables with a validity
interval (geo_queries.py:4-108, build_piecemeal_revgeo_query
airflow_utils.py:100-127). city_limits_classify: point-in-city with an
exclusion polygon (geo_queries.py:123-154).

Scale design: zone tables are dozens-to-hundreds of rows, so a zone type
with at most ``grid_threshold`` zones is attached with a projection, not a
join. Its prepared zones (value, parsed vertices, bbox, validity interval)
sit in the plan as one array literal, and each point keeps the zones whose
bbox, interval and ray cast all hold:
``explode_outer(filter(zones, z -> match))``. That is the LEFT JOIN row for
row — no match gives one NULL row, k matches give k rows, a NULL predicate
is no match — with no join, no broadcast exchange and no zone-side stage in
the plan; the fact side streams. The bbox leads the predicate: AND
short-circuits left-to-right, so the ray cast only runs for the ~1 zone
whose box holds the point.

Past the threshold the per-point bbox scan over every zone starts to
dominate, so the type switches to a GRID prefilter: zones explode into the
coarse grid cells their bbox covers (cell edge = max bbox edge, so ≤ 4
cells/zone), points map to exactly one cell, and the join becomes a
Broadcast *Hash* Join on (cell_x, cell_y) with the same predicate as the
residual — per-point work drops from O(zones) to O(zones sharing the cell).

Zone preparation runs once per zone frame object per application: one job
collects, for every type a call needs, the zone count, the max bbox edges
(the grid's cell size) and, for a projected type, the prepared zones. The
result is memoized weakly on the frame objects, so a later batch against
the same frames runs no zone job and parses no WKT, while a new frame
object (a re-read catalog version) is collected afresh.

Plan-time cost: the ray cast needs a spread input, so each public entry
calls ``session.fan_out`` once on the input points, before any exchange
the grid join adds (a probe of a plan holding one runs its stages)."""

from __future__ import annotations

import math
import weakref
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_rivers_spark.functions.geo import point_in_polygon, wkt_polygon_vertices
from data_rivers_spark.session import fan_out, job_label

_ZONE_FIELDS = ("__zone_val", "__verts", "__xmin", "__xmax", "__ymin", "__ymax",
                "__zstart", "__zend")


class _Zones(NamedTuple):
    """One zone frame, prepared: zone count, max bbox width and height, the
    prepared zones as one array literal (None when the collect capped it:
    the type is above the threshold and not forced onto the projection),
    and the projection's generator per (x, y, date) column names — building
    its ray-cast expression takes ~600 py4j calls, so a batch reuses it."""

    n: int
    w: float | None
    h: float | None
    array: Column | None
    hits: dict[tuple[str, str, str], Column]


# zone frame -> {(applicationId, zone/wkt/start/end column names): _Zones}.
# Weak on the frame, so an entry lives exactly as long as its frame object;
# it holds plan constants of a few hundred zones, never the point data.
_ZONE_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _prepared_zones(
    zones: DataFrame, zone_col: str, wkt_col: str, start_col: str, end_col: str
) -> DataFrame:
    """Parse zone WKT once on the (tiny) zone side, with bounding box."""
    z = zones.withColumn("__verts", wkt_polygon_vertices(F.col(wkt_col)))
    xs = F.transform(F.col("__verts"), lambda v: v["x"])
    ys = F.transform(F.col("__verts"), lambda v: v["y"])
    return z.select(
        F.col(zone_col).alias("__zone_val"),
        F.col("__verts"),
        F.array_min(xs).alias("__xmin"),
        F.array_max(xs).alias("__xmax"),
        F.array_min(ys).alias("__ymin"),
        F.array_max(ys).alias("__ymax"),
        F.col(start_col).alias("__zstart"),
        F.col(end_col).alias("__zend"),
    )


def _zone_match(px: Column, py: Column, pdate: Column, z) -> Column:
    """The LEFT JOIN's ON clause (geo_queries.py:53-107: ST_CONTAINS(zone.geometry,
    point) AND start_date <= date <= IFNULL(end_date, CURRENT_DATETIME)).
    ``z`` is a prepared zone: a frame in the grid join, an array element in
    the projection; both index their fields with ``z[name]``."""
    return (
        (px >= z["__xmin"])
        & (px <= z["__xmax"])
        & (py >= z["__ymin"])
        & (py <= z["__ymax"])
        & (z["__zstart"] <= pdate)
        & (pdate <= F.coalesce(z["__zend"], F.current_timestamp()))
        & point_in_polygon(px, py, z["__verts"])
    )


def _uses_grid(grid: bool | str, n: int, grid_threshold: int) -> bool:
    return grid if isinstance(grid, bool) else n > grid_threshold


def _zone_facts(
    zone_frames: list[DataFrame], cols: tuple[str, str, str, str],
    grid: bool | str, grid_threshold: int,
) -> list[_Zones]:
    """Each frame's ``_Zones``, from the memo or from ONE collect job for
    every frame the memo cannot answer.

    The job unions the frames' prepared rows, each type in its own struct
    column (types differ per frame: the zone column may be an int, the
    interval a date), and one global aggregate returns per type the count,
    the max bbox edges and the zone list. The list leaves the executors
    only for a type the projection will use, so a type above the threshold
    ships no zone rows to the driver (grid=False forces the projection,
    and so ships every type whole). The list stays a JVM value: it becomes
    a literal of exactly the collected type, so the interval comparison
    keeps the zone frame's own start/end types and coercions."""
    if not zone_frames:
        return []
    spark = zone_frames[0].sparkSession
    key = (spark.sparkContext.applicationId, cols)

    def cached(zones: DataFrame) -> _Zones | None:
        z = _ZONE_MEMO.get(zones, {}).get(key)
        if z is not None and (z.array is not None or _uses_grid(grid, z.n, grid_threshold)):
            return z
        return None

    todo = list({id(z): z for z in zone_frames if cached(z) is None}.values())
    if todo:
        cap = None if grid is False else grid_threshold
        union = None
        for i, zones in enumerate(todo):
            part = _prepared_zones(zones, *cols).select(F.struct(*_ZONE_FIELDS).alias(f"__z{i}"))
            union = part if union is None else union.unionByName(part, allowMissingColumns=True)
        aggs = []
        for i in range(len(todo)):
            z = F.col(f"__z{i}")
            n = F.count(z)
            zs = F.collect_list(z)
            aggs += [n, F.max(z["__xmax"] - z["__xmin"]), F.max(z["__ymax"] - z["__ymin"]),
                     zs if cap is None else F.when(n <= cap, zs)]
        facts = union.agg(*aggs)
        # a JVM-side action carries no Python call site; name its stages
        with job_label(spark, "collect at operators.geo._zone_facts"):
            row = facts._jdf.collect()[0]
        fields = facts._jdf.schema().fields()
        jvm = spark._jvm
        for i, zones in enumerate(todo):
            arr = row.get(4 * i + 3)
            if arr is not None:
                lit = jvm.org.apache.spark.sql.catalyst.expressions.Literal.create(
                    arr, fields[4 * i + 3].dataType()
                )
                arr = Column(jvm.org.apache.spark.sql.classic.ExpressionUtils.column(lit))
            _ZONE_MEMO.setdefault(zones, {})[key] = _Zones(
                row.getLong(4 * i), row.get(4 * i + 1), row.get(4 * i + 2), arr, {}
            )
    return [cached(z) for z in zone_frames]


def _project_zones(
    points: DataFrame, facts: _Zones, x_col: str, y_col: str, point_date_col: str,
    out_col: str,
) -> DataFrame:
    """Attach one projected zone type: every matching zone, or one NULL."""
    hit = facts.hits.get((x_col, y_col, point_date_col))
    if hit is None:
        px, py, pdate = F.col(x_col), F.col(y_col), F.col(point_date_col)
        hit = F.explode_outer(F.filter(facts.array, lambda z: _zone_match(px, py, pdate, z)))
        facts.hits[(x_col, y_col, point_date_col)] = hit
    return (
        points.withColumn("__zone_hit", hit)
        .withColumn(out_col, F.col("__zone_hit")["__zone_val"])
        .drop("__zone_hit")
    )


def _grid_join(
    points: DataFrame, zones: DataFrame, facts: _Zones, x_col: str, y_col: str,
    point_date_col: str, out_col: str,
) -> DataFrame:
    """Attach one gridded zone type with the cell-keyed broadcast hash join.

    Cell edge = max bbox edge across zones → every zone covers ≤ 2 cells per
    axis; a point lands in exactly one cell, so candidate pairs per point =
    zones sharing its cell, not all zones."""
    # frame-BOUND references, not F.col name lookups: with name-resolved
    # refs Spark 4.1.2's join resolution flakily attributed a point column
    # to the zones side in fresh sessions and pushed a points-predicate
    # below the zone projections — failing task-time binding with
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not find py#N in [id#M]").
    # Bound refs pin every attribute to its owning plan, which is the
    # correct discipline for join conditions anyway.
    px, py, pdate = points[x_col], points[y_col], points[point_date_col]
    cw = max(float(facts.w or 0.0), 1e-9)
    ch = max(float(facts.h or 0.0), 1e-9)
    zg = zones.withColumn(
        "__cx", F.explode(F.sequence(F.floor(F.col("__xmin") / cw), F.floor(F.col("__xmax") / cw)))
    ).withColumn(
        "__cy", F.explode(F.sequence(F.floor(F.col("__ymin") / ch), F.floor(F.col("__ymax") / ch)))
    )
    pcx, pcy = F.floor(px / cw), F.floor(py / ch)
    cond = (pcx == F.col("__cx")) & (pcy == F.col("__cy")) & _zone_match(px, py, pdate, zones)
    joined = points.join(F.broadcast(zg), cond, "left")
    return joined.withColumn(out_col, F.col("__zone_val")).drop("__cx", "__cy", *_ZONE_FIELDS)


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
) -> DataFrame:
    """LEFT OUTER spatial-interval join: attach the zone containing each point
    whose validity interval covers the point's date; non-matching points keep
    NULL (geo_queries.py:53-107: ST_CONTAINS(zone.geometry, point) AND
    start_date <= date <= IFNULL(end_date, CURRENT_DATETIME)). This is
    ``revgeo_multi_zone`` with one zone table.

    ``grid='auto'`` attaches a zone table of at most ``grid_threshold`` rows
    with the join-free projection and a larger one with the grid-cell
    equi-join (see the module docstring); True/False force either plan.
    Both give identical results — the grid only prefilters which (point,
    zone) pairs reach the exact predicate.

    ``grid_threshold=512`` is measured, not guessed (SCALING.md crossover
    table): the projection's per-zone work short-circuits at the
    4-comparison bbox prefilter — the ray cast only runs for the ~1
    bbox-matching zone — so it stays ahead of the grid's explode+hash
    overhead until the high hundreds of zones; 512 leaves margin for zones
    with larger bboxes, which raise the grid's candidates-per-cell.

    Driver-job budget: at most one small job on the zone table, once per
    zone frame object per application (see the module docstring)."""
    return revgeo_multi_zone(
        points, {out_col or zone_col: zones}, x_col, y_col, point_date_col,
        zone_col=zone_col, wkt_col=wkt_col, start_col=start_col, end_col=end_col,
        grid=grid, grid_threshold=grid_threshold,
    )


def revgeo_multi_zone(
    points: DataFrame,
    zone_tables: dict[str, DataFrame],
    x_col: str,
    y_col: str,
    point_date_col: str,
    zone_col: str = "zone",
    wkt_col: str = "geometry",
    start_col: str = "start_date",
    end_col: str = "end_date",
    grid: bool | str = "auto",
    grid_threshold: int = 512,
) -> DataFrame:
    """The 8-way enrichment: one timebound revgeo per zone type, output
    column = the dict key (geo_queries.py:4-108 joins neighborhoods,
    council_districts, wards, fire/police zones, dpw_* in a single
    statement). The parameters are ``revgeo_timebound_join``'s.

    One ``fan_out`` spreads the input, then one zone job (none once the
    frames are memoized) prepares every type; each type is then attached by
    projection or, above the threshold, by grid join."""
    out = fan_out(points)
    cols = (zone_col, wkt_col, start_col, end_col)
    facts = _zone_facts(list(zone_tables.values()), cols, grid, grid_threshold)
    for (out_col, zones), z in zip(zone_tables.items(), facts):
        if _uses_grid(grid, z.n, grid_threshold):
            out = _grid_join(out, _prepared_zones(zones, *cols), z, x_col, y_col,
                             point_date_col, out_col)
        else:
            out = _project_zones(out, z, x_col, y_col, point_date_col, out_col)
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
