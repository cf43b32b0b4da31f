"""Geospatial expression library — WKT parsing and point-in-polygon as pure
Catalyst expressions (higher-order functions), no Python UDFs.

The reference stores geometry as WKT strings and uses BigQuery
ST_CONTAINS/ST_COVERS/ST_GEOGFROMTEXT (geo_queries.py:4-108, :123-154;
ConvertGeography dataflow_utils.py:266-297). Zone tables number in the
dozens → always broadcast; the expensive side is the point fact table, and
keeping the predicate JVM-side keeps the probe inside codegen.

Limitations (match the reference's actual usage): planar geometry (the
reference's zones are city-scale where geodesic vs planar is negligible).
POLYGON (with holes) and MULTIPOLYGON are supported via the ring-list
parser (``wkt_rings`` + ``point_in_rings``, even-odd rule); the single-ring
fast path (``wkt_polygon_vertices`` + ``point_in_polygon``) remains for the
hot revgeo probe where zones are known to be simple rings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def wkt_polygon_vertices(wkt: Column) -> Column:
    """POLYGON((x1 y1, x2 y2, ...)) → array<struct<x:double, y:double>>.

    The outer ring only; the closing vertex is kept (harmless for ray
    casting, as the closing edge has zero extent when repeated). A pair
    that does not parse gives NULL coordinates, which contain no point,
    instead of failing the query on an out-of-range index."""
    inner = F.regexp_extract(wkt, r"\(\(([^)]*)\)\)", 1)
    pairs = F.split(inner, r",\s*")
    return F.transform(
        pairs,
        lambda p: F.struct(
            F.get(F.split(F.trim(p), r"\s+"), 0).try_cast("double").alias("x"),
            F.get(F.split(F.trim(p), r"\s+"), 1).try_cast("double").alias("y"),
        ),
    )


def point_in_polygon(px: Column, py: Column, vertices: Column) -> Column:
    """Ray-casting point-in-polygon over a vertex array — expressed with
    zip_with/filter so it compiles to JVM codegen (no UDF).

    Counts edges crossed by a horizontal ray from (px, py) to +∞; odd →
    inside. Points exactly on an edge are implementation-defined (same caveat
    as BigQuery ST_CONTAINS vs ST_COVERS polarity the reference works around,
    geo_queries.py:133-137)."""
    n = F.size(vertices)
    starts = F.slice(vertices, 1, n - 1)
    ends = F.slice(vertices, 2, n - 1)
    crossings = F.zip_with(
        starts,
        ends,
        lambda a, b: (
            ((a["y"] > py) != (b["y"] > py))
            & (px < (b["x"] - a["x"]) * (py - a["y"]) / (b["y"] - a["y"]) + a["x"])
        ),
    )
    return (F.size(F.filter(crossings, lambda c: c)) % 2) == 1


def point_in_wkt_polygon(px: Column, py: Column, wkt: Column) -> Column:
    """Convenience: parse + test in one expression. For a broadcast zone table
    prefer pre-parsing the vertex array once (see operators.geo)."""
    return point_in_polygon(px, py, wkt_polygon_vertices(wkt))


def wkt_rings(wkt: Column) -> Column:
    """POLYGON / MULTIPOLYGON WKT → array of rings, each an
    array<struct<x:double, y:double>>.

    Rings are the innermost parenthesized coordinate lists, so the same
    regex handles ``POLYGON((outer), (hole))`` and
    ``MULTIPOLYGON(((outer), (hole)), ((outer2)))`` uniformly — outer rings
    and holes are distinguished by the even-odd containment rule, not by
    position (mirrors BigQuery ST_GEOGFROMTEXT semantics the reference
    leans on, geo_queries.py:123-154)."""
    ring_txts = F.regexp_extract_all(wkt, F.lit(r"\(([^()]+)\)"), 1)

    def parse_ring(txt: Column) -> Column:
        pairs = F.split(txt, r",\s*")
        return F.transform(
            pairs,
            lambda p: F.struct(
                F.get(F.split(F.trim(p), r"\s+"), 0).try_cast("double").alias("x"),
                F.get(F.split(F.trim(p), r"\s+"), 1).try_cast("double").alias("y"),
            ),
        )

    return F.transform(ring_txts, parse_ring)


def _ring_crossings(px: Column, py: Column, vertices: Column) -> Column:
    """Number of ring edges crossed by the horizontal ray from (px, py) → +∞."""
    n = F.size(vertices)
    starts = F.slice(vertices, 1, n - 1)
    ends = F.slice(vertices, 2, n - 1)
    crossings = F.zip_with(
        starts,
        ends,
        lambda a, b: (
            ((a["y"] > py) != (b["y"] > py))
            & (px < (b["x"] - a["x"]) * (py - a["y"]) / (b["y"] - a["y"]) + a["x"])
        ),
    )
    return F.size(F.filter(crossings, lambda c: c))


def point_in_rings(px: Column, py: Column, rings: Column) -> Column:
    """Even-odd containment over a ring list: total edge crossings across ALL
    rings, odd → inside. This single rule gives holes (outer odd + hole odd =
    even → outside) and disjoint multipolygon parts (only the containing
    part contributes odd crossings) with no ring classification step."""
    total = F.aggregate(
        rings, F.lit(0), lambda acc, ring: acc + _ring_crossings(px, py, ring)
    )
    return (total % 2) == 1


def point_in_wkt_geom(px: Column, py: Column, wkt: Column) -> Column:
    """Containment against any POLYGON/MULTIPOLYGON WKT, holes included."""
    return point_in_rings(px, py, wkt_rings(wkt))


def polygon_centroid(vertices: Column) -> Column:
    """Area-weighted centroid of a closed polygon ring (ST_CENTROID over
    parcels, general_queries.py:75-84) via the shoelace formula, returned as
    struct<x:double,y:double>.

    Cx = Σ(x_i + x_{i+1})·c_i / (3·Σc_i) with c_i = x_i·y_{i+1} − x_{i+1}·y_i;
    orientation-independent (the sign of Σc_i cancels). Correct for concave
    rings where the old vertex-average drifts toward vertex-dense sides.
    Degenerate rings (zero signed area: collinear or < 3 distinct vertices)
    fall back to the vertex average so point-like parcels still yield a
    representative coordinate."""
    n = F.size(vertices)
    starts = F.slice(vertices, 1, n - 1)
    ends = F.slice(vertices, 2, n - 1)
    cross = F.zip_with(
        starts,
        ends,
        lambda a, b: F.struct(
            (a["x"] * b["y"] - b["x"] * a["y"]).alias("c"),
            ((a["x"] + b["x"]) * (a["x"] * b["y"] - b["x"] * a["y"])).alias("cx"),
            ((a["y"] + b["y"]) * (a["x"] * b["y"] - b["x"] * a["y"])).alias("cy"),
        ),
    )
    a2 = F.aggregate(cross, F.lit(0.0), lambda acc, t: acc + t["c"])  # 2·signed area
    sx = F.aggregate(cross, F.lit(0.0), lambda acc, t: acc + t["cx"])
    sy = F.aggregate(cross, F.lit(0.0), lambda acc, t: acc + t["cy"])
    ring = F.slice(vertices, 1, n - 1)  # open ring for the degenerate fallback
    ax = F.aggregate(ring, F.lit(0.0), lambda acc, v: acc + v["x"])
    ay = F.aggregate(ring, F.lit(0.0), lambda acc, v: acc + v["y"])
    cnt = F.size(ring).cast("double")
    return F.when(
        F.abs(a2) < F.lit(1e-12),
        F.struct((ax / cnt).alias("x"), (ay / cnt).alias("y")),
    ).otherwise(
        F.struct((sx / (F.lit(3.0) * a2)).alias("x"), (sy / (F.lit(3.0) * a2)).alias("y"))
    )
