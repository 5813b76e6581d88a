"""WKB output surface: byte-exact layout fixtures, the engine's
geometry_wkb path, and WKB re-printed as WKT equal to the engine's WKT
over all five geometry types.

The expected bytes are hand-assembled from the public WKB spec
(little-endian ISO: byte order 0x01, uint32 type, float64 coords) — an
independent fixture, not produced by the encoder under test."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from conftest import wkb_as_wkt
from osmdatapy_spark.engine import OSM
from osmdatapy_spark.operators.wkb import (
    CRS_METADATA,
    linestring_wkb,
    point_wkb,
    polygon_wkb,
    wkb_info,
)
from osmdatapy_spark.query import Query


def _le(gtype: int) -> bytes:
    return b"\x01" + struct.pack("<I", gtype)


def test_point_wkb_byte_exact(spark):
    df = spark.createDataFrame([(1.5, 2.5)], "lon double, lat double")
    got = df.select(point_wkb(col("lon"), col("lat")).alias("b")).first()["b"]
    assert bytes(got) == _le(1) + struct.pack("<2d", 1.5, 2.5)
    # spec hex spelled out: independent of struct.pack's own correctness
    assert bytes(got).hex() == "0101000000000000000000f83f0000000000000440"


def test_linestring_polygon_wkb_byte_exact(spark):
    df = spark.createDataFrame(
        [
            (
                [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 2.0}],
                [
                    [
                        {"lon": 0.0, "lat": 0.0},
                        {"lon": 4.0, "lat": 0.0},
                        {"lon": 4.0, "lat": 4.0},
                        {"lon": 0.0, "lat": 0.0},
                    ]
                ],
            )
        ],
        "coords array<struct<lon:double,lat:double>>, "
        "rings array<array<struct<lon:double,lat:double>>>",
    )
    row = df.select(
        linestring_wkb(col("coords")).alias("ls"), polygon_wkb(col("rings")).alias("pg")
    ).first()
    assert bytes(row["ls"]) == _le(2) + struct.pack("<I", 2) + struct.pack(
        "<4d", 0.0, 0.0, 1.0, 2.0
    )
    assert bytes(row["pg"]) == _le(3) + struct.pack("<I", 1) + struct.pack(
        "<I", 4
    ) + struct.pack("<8d", 0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 0.0)
    # a hole with another point count than its outer ring (ragged rings),
    # and null inputs
    outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (2.0, 1.0), (1.0, 2.0), (1.0, 1.0)]
    df = spark.createDataFrame(
        [([[{"lon": x, "lat": y} for x, y in r] for r in (outer, hole)],), (None,)],
        "rings array<array<struct<lon:double,lat:double>>>",
    )
    got = [r["pg"] for r in df.select(polygon_wkb(col("rings")).alias("pg")).collect()]
    assert bytes(got[0]) == _le(3) + struct.pack("<I", 2) + b"".join(
        struct.pack("<I", len(r)) + struct.pack(f"<{2 * len(r)}d", *[c for p in r for c in p])
        for r in (outer, hole)
    )
    assert got[1] is None


def test_engine_query_wkb(spark):
    elements = spark.createDataFrame(
        [(1, 0, {"amenity": "cafe"}), (7, 1, {"highway": "path"})],
        "osmid long, osmtype tinyint, tags map<string,string>",
    )
    nodes = spark.createDataFrame(
        [(1, 10.5, 20.25), (2, 11.0, 21.0), (3, 12.0, 22.0)],
        "osmid long, lon double, lat double",
    )
    refs = spark.createDataFrame(
        [(7, 1, 2), (7, 2, 3)], "way_id long, pos int, node_id long"
    )
    osm = OSM(elements, nodes, way_refs=refs)
    out = osm.query(Query(nodes=True, ways=True, geometry=True), wkb=True)
    rows = {r["osmid"]: r for r in out.collect()}
    # WKT and WKB agree structurally
    info = {
        r["osmid"]: r
        for r in osm.query(Query(nodes=True, ways=True, geometry=True), wkb=True)
        .select("osmid", wkb_info(col("geometry_wkb")).alias("i"))
        .select("osmid", "i.*")
        .collect()
    }
    assert rows[1]["geometry"].startswith("POINT")
    assert (info[1]["gtype"], info[1]["n_points"], info[1]["x1"], info[1]["y1"]) == (1, 1, 10.5, 20.25)
    assert rows[7]["geometry"].startswith("LINESTRING")
    assert (info[7]["gtype"], info[7]["n_points"], info[7]["x1"]) == (2, 2, 11.0)
    # CRS convention travels as column metadata
    meta = {f.name: f.metadata for f in out.schema.fields}
    assert meta["geometry"]["crs"] == "EPSG:4326"
    assert meta["geometry_wkb"] == CRS_METADATA


def _ragged_hole_osm(spark):
    """A multipolygon whose hole has fewer points than its outer ring, a
    tagged node with a coordinate finer than 7 decimals, a linestring way
    and a one-node way (geometry null)."""
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 4.0, 0.0), (3, 4.0, 4.0), (4, 0.0, 4.0),
         (5, 1.0, 1.0), (6, 2.0, 1.0), (7, 1.0, 2.0), (8, 10.123456789, -3.25)],
        "osmid long, lon double, lat double",
    )
    elements = spark.createDataFrame(
        [(8, 0, {"amenity": "bench"}), (11, 1, {"highway": "path"}), (12, 1, {}),
         (13, 1, {"highway": "stub"}), (21, 2, {"type": "multipolygon"}),
         (22, 2, {"type": "site"})],
        "osmid long, osmtype tinyint, tags map<string,string>",
    )
    refs = [(11, p, n) for p, n in enumerate([1, 2, 3, 4, 1])]
    refs += [(12, p, n) for p, n in enumerate([5, 6, 7, 5])] + [(13, 0, 8)]
    way_refs = spark.createDataFrame(refs, "way_id long, pos int, node_id long")
    rel_members = spark.createDataFrame(
        [(21, 0, 11, 1, "outer"), (21, 1, 12, 1, "inner"), (22, 0, 8, 0, "")],
        "rel_id long, pos int, member_id long, member_type tinyint, role string",
    )
    return OSM.from_tables(elements, nodes, way_refs, rel_members)


def test_query_wkb_keeps_exact_doubles(spark):
    """WKB carries the coordinate doubles themselves, not the 7-decimal
    WKT text."""
    osm = _ragged_hole_osm(spark)
    q = Query(nodes=True, ways=False, relations=False, geometry=True)
    (row,) = osm.query(q, wkb=True).collect()
    assert row.geometry == "POINT (10.1234568 -3.2500000)"
    assert struct.unpack_from("<2d", bytes(row.geometry_wkb), 5) == (10.123456789, -3.25)


def test_query_wkb_reprints_as_wkt(spark):
    """``geometry_wkb`` decoded and re-printed with ``%.7f`` equals the
    ``geometry`` WKT, null where it is null, over all five geometry types:
    a polygon with a ragged hole, the route fixture's gaps
    (MULTILINESTRING) and the nested-squares fixture (MULTIPOLYGON)."""
    from osmdatapy_spark.suite.ext import _route_tables
    from osmdatapy_spark.suite.osm import _nest_fixture_osm

    q = Query(nodes=True, ways=True, relations=True, geometry=True, tags=False)
    heads = set()
    for osm in (
        _ragged_hole_osm(spark),
        OSM.from_tables(*_route_tables(spark)),
        _nest_fixture_osm(spark),
    ):
        rows = osm.query(q, wkb=True).select("osmid", "osmtype", "geometry", "geometry_wkb").collect()
        for r in rows:
            if r.geometry is None:
                assert r.geometry_wkb is None, r
            else:
                assert wkb_as_wkt(bytes(r.geometry_wkb)) == r.geometry, r
                heads.add(r.geometry.split(" ")[0])
    assert heads == {"POINT", "LINESTRING", "POLYGON", "MULTILINESTRING", "MULTIPOLYGON"}
    ragged = {
        r.osmid: r.geometry
        for r in _ragged_hole_osm(spark).query(q).filter("osmtype = 2").collect()
    }
    assert ragged == {
        21: "POLYGON ((0.0000000 0.0000000, 4.0000000 0.0000000, 4.0000000 4.0000000, "
        "0.0000000 4.0000000, 0.0000000 0.0000000), (1.0000000 1.0000000, "
        "2.0000000 1.0000000, 1.0000000 2.0000000, 1.0000000 1.0000000))",
        22: None,
    }
