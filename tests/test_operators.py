"""Topology + ring operators: hand-built fixtures and the SURVEY §5.4
property checks (segment endpoints are boundary nodes; rings close;
chained order is reachable)."""

from __future__ import annotations

from pyspark.sql import functions as F

from osmdatapy_spark.operators.rings import ring_chains
from osmdatapy_spark.operators.topology import topology_segments, way_endpoints


def _refs_df(spark, ways: dict[int, list[int]]):
    rows = [(wid, pos, nid) for wid, nds in ways.items() for pos, nid in enumerate(nds)]
    return spark.createDataFrame(rows, "way_id long, pos int, node_id long")


def test_way_endpoints(spark):
    df = _refs_df(spark, {1: [10, 11, 12], 2: [12, 13]})
    out = {r["way_id"]: r for r in way_endpoints(df).collect()}
    assert (out[1]["source"], out[1]["target"], out[1]["n_nodes"]) == (10, 12, 3)
    assert (out[2]["source"], out[2]["target"], out[2]["n_nodes"]) == (12, 13, 2)


def test_topology_no_shared_nodes(spark):
    df = _refs_df(spark, {1: [10, 11, 12]})
    segs = topology_segments(df).collect()
    assert len(segs) == 1
    assert (segs[0]["source"], segs[0]["target"], segs[0]["n_nodes"]) == (10, 12, 3)


def test_topology_split_at_shared(spark):
    # node 12 shared between ways 1 and 2 → way 1 splits there
    df = _refs_df(spark, {1: [10, 11, 12, 13, 14], 2: [12, 20]})
    segs = {(s["way_id"], s["seg"]): s for s in topology_segments(df).collect()}
    assert len([k for k in segs if k[0] == 1]) == 2
    assert (segs[(1, 0)]["source"], segs[(1, 0)]["target"]) == (10, 12)
    assert (segs[(1, 1)]["source"], segs[(1, 1)]["target"]) == (12, 14)
    assert (segs[(2, 0)]["source"], segs[(2, 0)]["target"]) == (12, 20)


def test_topology_property_invariants(spark):
    """Every segment's source/target is a boundary node (first/last/shared)
    and consecutive segments of a way chain target→source."""
    ways = {
        1: [1, 2, 3, 4, 5],
        2: [5, 6, 7],
        3: [3, 8, 9],
        4: [9, 7],
        5: [2, 9],
    }
    df = _refs_df(spark, ways)
    segs = topology_segments(df).collect()
    flat = [n for nds in ways.values() for n in nds]
    shared = {n for n in flat if flat.count(n) > 1}
    for wid, nds in ways.items():
        wsegs = sorted((s for s in segs if s["way_id"] == wid), key=lambda s: s["seg"])
        assert wsegs[0]["source"] == nds[0]
        assert wsegs[-1]["target"] == nds[-1]
        for a, b in zip(wsegs, wsegs[1:]):
            assert a["target"] == b["source"] and a["target"] in shared
        # segment node counts cover the whole way (shared endpoint counted
        # by both adjacent segments)
        assert sum(s["n_nodes"] for s in wsegs) == len(nds) + len(wsegs) - 1


def _chains(spark, rel_id, ways: dict[int, list[int]], roles: dict[int, str] | None = None):
    """``ring_chains`` over one relation whose members are ``ways`` in
    dict order: ``{ring: (nodes, ring_role)}``."""
    rows = [
        (rel_id, wid, pos, refs, (roles or {}).get(wid))
        for pos, (wid, refs) in enumerate(ways.items())
    ]
    members = spark.createDataFrame(
        rows, "rel_id long, way_id long, member_pos int, refs array<long>, role string"
    )
    return {r["ring"]: (r["nodes"], r["ring_role"]) for r in ring_chains(members).collect()}


def test_ring_single_closed(spark):
    # square via two ways, second stored reversed: 1-2-3 + 1-4-3 must flip
    # to chain 3 → 1
    rings = _chains(spark, 7, {101: [1, 2, 3], 102: [1, 4, 3]})
    assert {r: nodes for r, (nodes, _) in rings.items()} == {0: [1, 2, 3, 4, 1]}


def test_ring_two_rings(spark):
    # outer square 1-2-3-4-1 split in two ways + separate inner 5-6-7-5
    rings = _chains(spark, 8, {201: [1, 2, 3], 202: [3, 4, 1], 203: [5, 6, 7, 5]})
    assert {r: nodes for r, (nodes, _) in rings.items()} == {
        0: [1, 2, 3, 4, 1],
        1: [5, 6, 7, 5],
    }


def test_ring_chain_break_starts_new_ring(spark):
    # no shared endpoint: the second way starts a new ring
    rings = _chains(spark, 9, {301: [1, 2], 302: [9, 8]})
    assert {r: nodes for r, (nodes, _) in rings.items()} == {0: [1, 2], 1: [9, 8]}


def test_ring_chains_five_ways_rings_and_roles(spark):
    """Three rings from five ways: 401+402 close ring 0; 403 starts ring
    1 and 404 joins it reversed (7-8-5 read as 5-8-7); the isolated 405
    is ring 2.  Each ring's role is its first way's role."""
    rings = _chains(
        spark,
        11,
        {401: [1, 2, 3], 402: [3, 4, 1], 403: [7, 6, 5], 404: [7, 8, 5], 405: [20, 21]},
        {401: "outer", 402: "outer", 403: "inner", 404: "inner", 405: "outer"},
    )
    assert rings == {
        0: ([1, 2, 3, 4, 1], "outer"),
        1: ([7, 6, 5, 8, 7], "inner"),
        2: ([20, 21], "outer"),
    }


def test_relation_rings_are_the_rings_relation_areas_renders(spark):
    """Twelve type=boundary relations reach their rings through untyped
    sub-relations: ``relation_rings()`` keys the rings by the boundary
    relations (not the sub-relations), four closed rings each, and their
    coordinates are the rings of ``relation_areas()``' WKT."""
    import re

    from osmdatapy_spark.suite.osm import _nest_fixture_osm

    osm = _nest_fixture_osm(spark, nested=True)
    xy = {r["osmid"]: (r["lon"], r["lat"]) for r in osm.nodes.collect()}
    rings: dict[int, list] = {}
    for r in osm.relation_rings().collect():
        assert r["nodes"][0] == r["nodes"][-1], r
        assert r["kind"] == "area", r
        rings.setdefault(r["rel_id"], []).append(tuple(xy[n] for n in r["nodes"]))
    assert sorted(rings) == list(range(12))
    assert all(len(rs) == 4 for rs in rings.values())
    areas = dict(osm.relation_areas().collect())
    assert sorted(areas) == sorted(rings)
    for rel_id, wkt in areas.items():
        rendered = [
            tuple(tuple(float(v) for v in pt.split()) for pt in ring.split(", "))
            for ring in re.findall(r"\(([^()]+)\)", wkt)
        ]
        assert sorted(rendered) == sorted(rings[rel_id]), rel_id


def _ring(pts):
    return [{"lon": float(x), "lat": float(y)} for x, y in pts]


def _sq(x0, y0, d):
    """Closed square ring (first point repeated)."""
    return _ring([(x0, y0), (x0 + d, y0), (x0 + d, y0 + d), (x0, y0 + d), (x0, y0)])


def test_assign_polygons_edge_cases(spark):
    """Polygon-assignment kernel (G8/G9 + containment nesting): positional
    G9 for simple relations (incl. inner-before-outer → poly -1, matching
    the reference's running count), containment nesting for complex ones
    (smallest containing outer wins; uncontained inners drop)."""
    from osmdatapy_spark.operators.rings import assign_polygons

    rows = [
        # rel 1 (simple: 1 outer + 2 inners): positional attach to poly 0
        (1, 0, "outer", _sq(0, 0, 10)),
        (1, 1, "inner", _sq(1, 1, 1)),
        (1, 2, "inner", _sq(5, 5, 1)),
        # rel 2 (simple, inner FIRST): reference running count → poly -1
        (2, 0, "inner", _sq(1, 1, 1)),
        (2, 1, "outer", _sq(0, 0, 10)),
        # rel 3 (complex, member order outer,outer,inner,inner): containment;
        # second inner sits inside NO outer → dropped; NESTED outers — the
        # small outer (ring 1) sits inside the big one (ring 0), and the
        # inner at (21,21) is inside BOTH → smallest containing outer wins
        (3, 0, "outer", _sq(20, 20, 10)),
        (3, 1, "outer", _sq(20.5, 20.5, 3)),
        (3, 2, "inner", _sq(21, 21, 1)),
        (3, 3, "inner", _sq(90, 90, 1)),
    ]
    df = spark.createDataFrame(
        rows,
        "rel_id long, ring int, ring_role string, "
        "coords array<struct<lon:double,lat:double>>",
    )
    out = {
        (r["rel_id"], r["ring"]): (r["role"], r["poly"])
        for r in assign_polygons(df).collect()
    }
    assert out[(1, 0)] == ("outer", 0)
    assert out[(1, 1)] == ("inner", 0) and out[(1, 2)] == ("inner", 0)
    assert out[(2, 0)] == ("inner", -1) and out[(2, 1)] == ("outer", 0)
    assert out[(3, 0)] == ("outer", 0) and out[(3, 1)] == ("outer", 1)
    assert out[(3, 2)] == ("inner", 1)  # smallest containing outer
    assert (3, 3) not in out  # uncontained inner dropped (G8 fallback)


def test_assign_polygons_matches_null_role_default(spark):
    """NULL ring_role defaults to outer (reference behavior)."""
    from osmdatapy_spark.operators.rings import assign_polygons

    df = spark.createDataFrame(
        [(7, 0, None, _sq(0, 0, 2))],
        "rel_id long, ring int, ring_role string, "
        "coords array<struct<lon:double,lat:double>>",
    )
    r = assign_polygons(df).collect()[0]
    assert (r["role"], r["poly"]) == ("outer", 0)


# --- J2 fixpoint: arbitrary-depth relation recursion ------------------------


def _member_osm(spark, edges):
    from osmdatapy_spark.engine import OSM

    empty = spark.createDataFrame([], "osmid long, osmtype tinyint, tags map<string,string>")
    nodes = spark.createDataFrame([], "osmid long, lon double, lat double")
    mem = spark.createDataFrame(
        edges, "rel_id long, pos int, member_id long, member_type int, role string"
    )
    return OSM(empty, nodes, rel_members=mem)


def test_expand_members_depth3(spark):
    # 100 ⊃ {200(rel), w1} ; 200 ⊃ {300(rel)} ; 300 ⊃ {w2, n3}
    osm = _member_osm(
        spark,
        [
            (100, 0, 200, 2, "sub"),
            (100, 1, 1, 1, "outer"),
            (200, 0, 300, 2, "sub"),
            (300, 0, 2, 1, "outer"),
            (300, 1, 3, 0, "admin_centre"),
        ],
    )
    got = {
        (r["root_rel"], r["member_id"], r["member_type"], r["depth"])
        for r in osm.expand_members().collect()
    }
    assert got == {
        (100, 200, 2, 1), (100, 1, 1, 1),
        (200, 300, 2, 1), (300, 2, 1, 1), (300, 3, 0, 1),
        (100, 300, 2, 2), (200, 2, 1, 2), (200, 3, 0, 2),
        (100, 2, 1, 3), (100, 3, 0, 3),
    }


def test_expand_members_cycle_terminates_at_cap(spark):
    # A ⊃ B, B ⊃ A — legal-if-broken OSM data; the depth cap must terminate
    osm = _member_osm(spark, [(1, 0, 2, 2, ""), (2, 0, 1, 2, "")])
    rows = osm.expand_members(max_depth=4).collect()
    assert max(r["depth"] for r in rows) == 4
    assert len(rows) == 8  # 2 edges per depth, 4 depths


def test_to_geodataframe_import_gated(spark):
    """Without shapely/geopandas installed the conversion must fail with a
    clear ImportError naming the WKT/WKB fallback; with them it returns a
    GeoDataFrame (env-dependent branch)."""
    import pytest

    from osmdatapy_spark.engine import OSM

    df = spark.createDataFrame([(1, "POINT (1 2)")], "osmid long, geometry string")
    try:
        import geopandas  # noqa: F401
        import shapely  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="geometry_wkb"):
            OSM.to_geodataframe(df)
    else:
        gdf = OSM.to_geodataframe(df)
        assert gdf.crs is not None and gdf.geometry.iloc[0].x == 1.0


def test_bfs_hops_path_graph(spark):
    """Hand-checkable BFS: a path 1-2-3-4-5 plus isolated edge 8-9; seed
    {1}: hops follow the path, cap stops at max_hops, 8/9 unreached."""
    from osmdatapy_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node_id long")
    out = {r.node_id: r.hops for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_min(spark):
    """Two seeds: every node gets the MIN distance over sources; symmetric
    traversal reaches backwards along edges."""
    from osmdatapy_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node_id long")
    out = {r.node_id: r.hops for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    assert out == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_hops_early_exit_on_empty_frontier(spark):
    """A 2-node graph converges in 1 level even with max_hops=10 (the
    early-exit probe), and an isolated seed stays at hops 0."""
    from osmdatapy_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (7,)], "node_id long")
    out = {r.node_id: r.hops for r in bfs_hops(edges, seeds, max_hops=10).collect()}
    assert out == {1: 0, 2: 1, 7: 0}


def test_integrity_checks_on_hand_built_ways(spark):
    """Pin the integrity-report semantics on a tiny hand-computable input:
    way 1 clean-open, way 2 closed, way 3 degenerate single-node, way 4
    has a duplicate consecutive ref and an unresolvable node."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    refs = spark.createDataFrame(
        [
            (1, 1, 10), (1, 2, 11), (1, 3, 12),
            (2, 1, 20), (2, 2, 21), (2, 3, 20),
            (3, 1, 30),
            (4, 1, 40), (4, 2, 40), (4, 3, 999),
        ],
        "way_id long, pos int, node_id long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (10, 11, 12, 20, 21, 30, 40)], "osmid long"
    )
    unresolved = refs.join(
        nodes.withColumnRenamed("osmid", "node_id"), "node_id", "left_anti"
    )
    assert unresolved.count() == 1  # node 999

    w = Window.partitionBy("way_id").orderBy("pos")
    per_way = (
        refs.withColumn("prev", F.lag("node_id").over(w))
        .groupBy("way_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((col("node_id") == col("prev")).cast("int")).alias("dups"),
            F.min_by("node_id", "pos").alias("src"),
            F.max_by("node_id", "pos").alias("dst"),
        )
    )
    rows = {r.way_id: r for r in per_way.collect()}
    assert rows[3].n == 1                      # degenerate
    assert rows[4].dups == 1                   # duplicate consecutive
    assert rows[2].src == rows[2].dst == 20    # closed ring
    assert rows[1].src == 10 and rows[1].dst == 12


def test_bellman_ford_integer_relaxation(spark):
    """Weighted shortest path must beat the fewer-hops-but-heavier route
    (the case hop-BFS gets wrong) and re-relax across rounds."""
    from osmdatapy_spark.operators.graph import bellman_ford_integer

    # 1 -> 4 direct costs 10; 1 -> 2 -> 3 -> 4 costs 3 (three hops)
    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 2)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node_id long")
    got = {
        r["node_id"]: r["dist"]
        for r in bellman_ford_integer(edges, seeds, iters=4).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 5}, got
    # with only 1 round, the heavy direct edge wins to node 4
    got1 = {
        r["node_id"]: r["dist"]
        for r in bellman_ford_integer(edges, seeds, iters=1).collect()
    }
    assert got1[4] == 10 and got1[2] == 1, got1


def test_write_clustered_shrinks_file_envelopes(spark, tmp_path):
    """The clustered write's payoff, measured on the files it produces:
    after a hilbert-clustered write, each parquet file's (a, b) min/max
    envelope covers a small fraction of the domain — so a point
    predicate on EITHER column can skip most files — while a plain write
    of shuffled data gives every file a near-full-domain envelope."""
    from pyspark.sql import functions as F

    from osmdatapy_spark.sinks import write_clustered

    n = 1 << 14
    # decorrelated keys (bit-reversal makes b a shuffled permutation of a)
    df = spark.range(n).select(
        F.col("id").alias("a"),
        F.expr("reverse(lpad(bin(id), 14, '0'))").alias("_rb"),
    ).select("a", F.conv("_rb", 2, 10).cast("long").alias("b"))

    plain_dir, clus_dir = str(tmp_path / "plain"), str(tmp_path / "clustered")
    df.repartition(16).write.parquet(plain_dir)
    write_clustered(
        df.repartition(16), clus_dir, ["a", "b"], curve="hilbert", order=7, num_files=16
    )

    def mean_envelope(path):
        files = spark.read.parquet(path).withColumn(
            "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        env = files.groupBy("f").agg(
            ((F.max("a") - F.min("a")) / F.lit(float(n))).alias("ea"),
            ((F.max("b") - F.min("b")) / F.lit(float(n))).alias("eb"),
        )
        row = env.agg(F.avg("ea").alias("ma"), F.avg("eb").alias("mb")).collect()[0]
        return row["ma"], row["mb"]

    pa, pb = mean_envelope(plain_dir)
    ca, cb = mean_envelope(clus_dir)
    # plain shuffled files span ~the whole domain on both keys
    assert pa > 0.8 and pb > 0.8, (pa, pb)
    # clustered files bound BOTH keys to well under half the domain
    assert ca < 0.5 and cb < 0.5, (ca, cb)


def test_geojson_features_are_valid_json(spark):
    """Both GeoJSON exporters must emit parseable RFC 7946 Features —
    printf assembly is easy to break with a stray quote/bracket."""
    import json

    from osmdatapy_spark.suite.geo import osm_geojson_lines

    sf = "/root/testdata/sf0.001"
    rows = osm_geojson_lines(spark, sf).limit(20).collect()
    assert rows
    for r in rows:
        f = json.loads(r["feature"])
        assert f["type"] == "Feature"
        assert f["geometry"]["type"] == "LineString"
        assert len(f["geometry"]["coordinates"]) >= 2
        assert all(len(p) == 2 for p in f["geometry"]["coordinates"])
        assert f["properties"]["way_id"] == r["way_id"]


def test_dense_ids_matches_global_row_number(spark):
    """operators/enumerate.dense_ids: bucketed enumeration == the global
    window's ids, including under adversarial skew and few distinct
    quantile boundaries; stable across partitionings."""
    from osmdatapy_spark.operators.enumerate import dense_ids
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # skewed keys: dense cluster + sparse tail
    vals = list(range(1000, 1100)) + [5, 7, 900000, 12345]
    df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(7)
    got = {r["k"]: r["new_id"] for r in dense_ids(df, "k").collect()}
    expect = {
        r["k"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(Window.orderBy("k"))).collect()
    }
    assert got == expect
    # start offset + invariance under a different partitioning
    got2 = {
        r["k"]: r["new_id"]
        for r in dense_ids(df.repartition(2), "k", start=100).collect()
    }
    assert got2 == {k: v + 99 for k, v in expect.items()}
