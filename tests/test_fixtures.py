"""Golden-output tests over the FIXTURES.md §B tables (§B5): tag
precedence, area-rule branches, geometry type dispatch, topology splits,
and every relation corner case through the full engine pipelines."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from osmdatapy_spark.engine import OSM
from osmdatapy_spark.fixtures import fixture_tables
from osmdatapy_spark.operators.geometry import (
    GEOM_AREA,
    GEOM_LINESTRING,
    GEOM_NONE,
    way_geom_type,
    area_rule_predicate,
)
from osmdatapy_spark.query import Query


@pytest.fixture(scope="module")
def osm(spark):
    t = fixture_tables(spark)
    return OSM.from_tables(t["elements"], t["nodes"], t["way_refs"], t["rel_members"])


def test_keep_exclude_collision(osm):
    """Element matching BOTH keep and exclude pins the precedence rule."""
    kf = Query(nodes=True, keep={"amenity": []}, exclude={"access": ["private"]})
    assert sorted(r["osmid"] for r in kf.apply(osm.elements).collect()) == [1]
    ef = Query(
        nodes=True, keep={"amenity": []}, exclude={"access": ["private"]}, keep_first=False
    )
    # keep wins when keep_first=False: node 2 survives its exclude hit
    got = sorted(r["osmid"] for r in ef.apply(osm.elements).collect())
    assert 2 in got and 1 in got


def test_area_rule_branches(osm, spark):
    rows = {
        r["osmid"]: r["a"]
        for r in osm.elements.filter(col("osmtype") == 0)
        .select("osmid", area_rule_predicate().alias("a"))
        .collect()
    }
    assert rows[10] is False  # area=no overrides leisure key
    assert rows[11] is True  # area=yes → any-key rule fires on 'area'
    assert rows[12] is False  # man_made=pipeline in NOT_AREA
    assert rows[13] is True  # highway=services in IS_AREA


def test_way_geom_types(osm):
    refs = osm.way_refs.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "node_id"))).alias("pn")
    ).select("way_id", F.col("pn.node_id").alias("refs"))
    ways = osm.elements.filter(col("osmtype") == 1).join(
        refs, col("osmid") == col("way_id"), "left"
    )
    types = {
        r["osmid"]: r["gt"]
        for r in ways.select("osmid", way_geom_type(col("refs"), col("tags")).alias("gt")).collect()
    }
    assert types[1] == GEOM_LINESTRING  # open
    assert types[2] == GEOM_AREA  # closed >=4pts + building
    assert types[3] == GEOM_LINESTRING  # closed 3-pt forced line
    assert types[4] == GEOM_NONE  # degenerate


def test_topology_split(osm):
    segs = osm.topology().collect()
    w5 = sorted((s for s in segs if s["way_id"] == 5), key=lambda s: s["seg"])
    # ways 5/6 share node 52: way 5 still one segment (52 is its endpoint)
    assert [(s["source"], s["target"]) for s in w5] == [(50, 52)]
    # the open way 1 yields exactly one segment with its endpoints
    w1 = [s for s in segs if s["way_id"] == 1]
    assert [(s["source"], s["target"]) for s in w1] == [(1, 4)]


def test_relation_shapes(osm):
    areas = {r["rel_id"]: r["wkt"] for r in osm.relation_areas().collect()}
    # r1: reversed-way ring chains into one closed POLYGON
    assert areas[1].startswith("POLYGON ((") and areas[1].count("(") == 2
    # r2: outer + inner hole
    assert areas[2].count("(") == 3
    # r3: complex case — inners dropped, two outers → MULTIPOLYGON
    assert areas[3].startswith("MULTIPOLYGON") and areas[3].count("((") == 2
    # r4: unclosed ring got closed (first node repeated)
    rings4 = [r for r in osm.relation_rings().collect() if r["rel_id"] == 4]
    assert rings4[0]["nodes"][0] == rings4[0]["nodes"][-1]
    # r5 (route) is not an area
    assert 5 not in areas
    # r6: the node member is ignored, but the RELATION member now flattens
    # (relation-of-relations geometry, round 7) — r6 inherits relation 1's
    # ways and assembles the identical polygon
    assert areas[6] == areas[1]
    # r7: dangling way member 999 → no ring output, no crash
    assert 7 not in areas
    # r8: TRUE nesting (beyond-reference) — two outers, two inners, member
    # order outer,outer,inner,inner; each inner becomes a hole in the
    # outer that geometrically contains it (the reference drops both,
    # _frame.py:234-244; positional G9 would hang inner A on outer B)
    assert areas[8].startswith("MULTIPOLYGON") and areas[8].count("(") == 7
    poly_a, poly_b = areas[8].split(")), ((")
    # outer A (col 0 → lon -179.75) must share its polygon with inner A
    # (col 1 → lon -170.75); same for B (cols 5/6 → -134.75/-125.75)
    assert "-179.75" in poly_a and "-170.75" in poly_a
    assert "-134.75" in poly_b and "-125.75" in poly_b
    assert "-170.75" not in poly_b and "-125.75" not in poly_a


def test_ring_direction_flip(osm):
    """Way 8 (100-103-102) is stored reversed relative to the chain: the
    chain kernel must flip it (reference _frame.py:201-204), so its refs
    follow way 7's (100-101-102) reversed.  Relation 6 reaches the same
    ways through its relation member and gets the same ring."""
    rings = {r["rel_id"]: r["nodes"] for r in osm.relation_rings().collect() if r["rel_id"] in (1, 6)}
    assert rings == {1: [100, 101, 102, 103, 100], 6: [100, 101, 102, 103, 100]}


def test_query_topology_mode(osm):
    """Full reference topology mode (README.md:25): query(ways, geometry,
    topology) returns per-segment rows with source/target; degenerate way
    4 contributes no segment."""
    q = Query(ways=True, must_tags=["highway"], geometry=True, topology=True)
    rows = {
        (r["osmid"], r["seg"]): (r["source"], r["target"])
        for r in osm.query(q).collect()
    }
    assert rows == {(1, 0): (1, 4), (5, 0): (50, 52), (6, 0): (52, 53)}


def test_id_collision_across_kinds(osm):
    """osmid is NOT globally unique: fixture node 1 and way 1 coexist.
    Geometry joins must be osmtype-gated so the way never inherits the
    node's coordinates and the node never inherits refs."""
    q = Query(nodes=True, ways=True, must_tags=["highway", "amenity"], geometry=True)
    rows = {(r["osmid"], r["osmtype"]): r["geometry"] for r in osm.query(q).collect()}
    assert rows[(1, 0)].startswith("POINT")
    assert rows[(1, 1)].startswith("LINESTRING")


def test_query_relation_geometry(osm):
    """query(relations, geometry) returns assembled area WKT for
    multipolygon relations (reference _frame.py:87-97 dispatch)."""
    q = Query(relations=True, geometry=True)
    rows = {r["osmid"]: r["geometry"] for r in osm.query(q).collect()}
    assert rows[2].startswith("POLYGON ((") and rows[2].count("(") == 3  # holed
    assert rows[3].startswith("MULTIPOLYGON")
    # route relations assemble as linestrings since round 2 (reference
    # line branch _frame.py:87-105)
    assert rows[5].startswith(("LINESTRING (", "MULTILINESTRING ("))


def test_cached_relation_geometry_reuse(spark):
    """cache_relation_geometry() is the reusable bronze step: after
    warming, relation_lines()/relation_areas() read the persisted chain
    (InMemoryTableScan) with <=3 exchanges, instead of re-running the
    9-exchange chain/gather prefix — and results are identical."""
    from osmdatapy_spark.plans.audit import plan_summary

    t = fixture_tables(spark)
    osm = OSM.from_tables(t["elements"], t["nodes"], t["way_refs"], t["rel_members"])
    cold = {r["rel_id"]: r["wkt"] for r in osm.relation_lines().collect()}
    cold_areas = {r["rel_id"]: r["wkt"] for r in osm.relation_areas().collect()}

    osm.cache_relation_geometry()
    warm_df = osm.relation_lines()
    s = plan_summary(warm_df)
    assert "InMemoryTableScan" in s.text, s.text
    assert s.n_exchanges <= 3, s.text
    warm = {r["rel_id"]: r["wkt"] for r in warm_df.collect()}
    assert warm == cold
    warm_areas = {r["rel_id"]: r["wkt"] for r in osm.relation_areas().collect()}
    assert warm_areas == cold_areas
    osm._rel_coords_cache.unpersist()
