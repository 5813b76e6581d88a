"""Geometry scalar operators (reference §2.7 G1-G5, G7) as pure Column algebra.

The reference builds shapely objects (``osmdatapy/_geometry.py``); here
geometries are WKT/WKB-ready strings built JVM-side — no Python UDF in the
hot path.  Coordinates are DOUBLE (deliberate divergence from the
reference's float32, which loses ~cm precision at |lon|≈180 —
``README.md:13``, SURVEY.md §4.2) and are printf-formatted to a fixed
number of decimals so text output is engine-portable.

Scale: every function here is a narrow projection over already-joined
coordinate arrays — no shuffle of its own.  The expensive part (refs →
coords) is the coordinate-lookup join (``OSM.coords``,
``suite/_util.coords_lookup``), which at 100 TB runs as a sort-merge join
on osmid-bucketed nodes.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo
from osmdatapy_spark.defaults import IS_AREA, IS_AREA_KEY_ANY_VALUE, NOT_AREA

GEOM_NONE = 0
GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_AREA = 3


def point_wkt(lon: Column, lat: Column, decimals: int = 7) -> Column:
    """POINT WKT from lon/lat (reference G1, _geometry.py:8-22)."""
    fmt = f"%.{decimals}f"
    return F.format_string(f"POINT ({fmt} {fmt})", lon, lat)


def linestring_wkt(coords: Column, decimals: int = 7) -> Column:
    """LINESTRING WKT from an ordered ARRAY<STRUCT<lon,lat>> (reference G2,
    _geometry.py:25-41).  Pure `transform` + `array_join` — stays in codegen."""
    fmt = f"%.{decimals}f"
    pts = F.transform(coords, lambda c: F.format_string(f"{fmt} {fmt}", c["lon"], c["lat"]))
    return F.concat(lit("LINESTRING ("), F.array_join(pts, ", "), lit(")"))


def _seq_wkt(seq: str) -> str:
    """SQL: ``(x y, x y, …)`` of an ARRAY<STRUCT<lon,lat>> point sequence."""
    pt = "format_string('%.7f %.7f', __p.lon, __p.lat)"
    return f"concat('(', array_join(transform({seq}, __p -> {pt}), ', '), ')')"


def parts_wkt(kind: str, parts: str) -> Column:
    """WKT of a geometry given as coordinate parts (reference G2/G3,
    _geometry.py:25-106): ``parts`` is an ARRAY<ARRAY<ARRAY<STRUCT<lon,lat>>>>
    SQL fragment, ``kind`` a SQL fragment giving ``'area'`` or ``'line'``.
    An area's part is one polygon's rings (outer first), a line's part
    holds its one chain.  One part renders POLYGON / LINESTRING, more
    render MULTIPOLYGON / MULTILINESTRING — the same parts
    ``operators/wkb.parts_wkb`` encodes."""
    body = (
        f"IF({kind} = 'area', "
        f"concat('(', array_join(transform(__g, __r -> {_seq_wkt('__r')}), ', '), ')'), "
        f"{_seq_wkt('__g[0]')})"
    )
    multi = f"size({parts}) > 1"
    return memo.expr(
        f"concat(IF({multi}, 'MULTI', ''), IF({kind} = 'area', 'POLYGON', 'LINESTRING'), "
        f"IF({multi}, ' (', ' '), array_join(transform({parts}, __g -> {body}), ', '), "
        f"IF({multi}, ')', ''))"
    )


def _pair_match(tags_col: Column, rules: dict[str, list[str]]) -> Column:
    """True iff tags contains any (key,value) pair of the rule table.

    The reference packs pairs into int64s for set membership
    (``primitives.py:240``); with a map column this is direct value tests —
    Catalyst folds the rule table into the plan as literals."""
    parts = [tags_col.getItem(k).isin(vs) for k, vs in rules.items()]
    out = parts[0]
    for p in parts[1:]:
        out = out | p
    return out


def area_rule_predicate(tags_col: Column = None) -> Column:
    """Overpass polygon-features decision for a *closed* way's tags
    (reference G4 ``_is_area``, primitives.py:234-253 — implemented with the
    documented semantics, not the reference's inverted guards, SURVEY §2.12):

    1. ``area=no``            → not an area
    2. (k,v) ∈ IS_AREA        → area
    3. (k,v) ∈ NOT_AREA       → not an area
    4. any key ∈ IS_AREA_KEY_ANY_VALUE present → area
    5. otherwise              → not an area
    """
    t = tags_col if tags_col is not None else col("tags")
    any_area_key = F.exists(F.map_keys(t), lambda k: k.isin(list(IS_AREA_KEY_ANY_VALUE)))
    return (
        F.when(t.getItem("area") == "no", lit(False))
        .when(_pair_match(t, IS_AREA), lit(True))
        .when(_pair_match(t, NOT_AREA), lit(False))
        .otherwise(any_area_key)
    )


def way_geom_type(refs: Column = None, tags_col: Column = None) -> Column:
    """Way line-vs-area heuristic (reference ``_way_geotype``,
    primitives.py:260-285): 0 if degenerate, 2 if open/short, 3 if closed
    with ≥4 points and the area rules fire.

    Pure expression over the refs array — `element_at(refs,1) ==
    element_at(refs,-1)` replaces the reference's first/last compare.

    The default-column form is memoized per py4j gateway (``memo``):
    building the Overpass rule predicate costs ~1000 py4j round trips
    (~0.65 s, 40% of pbf_query's wall time at sf0.1), and the expression
    is immutable and plan-independent — an EXPRESSION, not data."""
    if refs is None and tags_col is None:
        return memo.get(
            SparkContext._gateway, "way_geom_type", None,
            lambda: way_geom_type(col("refs"), col("tags")),
        )
    r = refs if refs is not None else col("refs")
    closed = F.element_at(r, 1) == F.element_at(r, -1)
    n = F.size(r)
    return (
        F.when(n <= 1, lit(GEOM_NONE))
        .when(n < 4, lit(GEOM_LINESTRING))
        .when(~closed, lit(GEOM_LINESTRING))
        .when(area_rule_predicate(tags_col), lit(GEOM_AREA))
        .otherwise(lit(GEOM_LINESTRING))
    )


def close_rings(refs: Column = None) -> Column:
    """Ring closing (reference G7 ``_close_rings``, _frame.py:217-232):
    append the first node when first != last — array op, no shuffle."""
    r = refs if refs is not None else col("refs")
    return F.when(
        F.element_at(r, 1) != F.element_at(r, -1),
        F.concat(r, F.array(F.element_at(r, 1))),
    ).otherwise(r)
