"""PBF data source: codec round-trip, partition planning, pushdown,
bronze-table split, and the OSM facade end-to-end on a real .pbf file."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from osmdatapy_spark.engine import OSM
from osmdatapy_spark.query import Query
from osmdatapy_spark.sources.pbf import read_pbf
from osmdatapy_spark.sources.xml import read_osm_xml
from osmdatapy_spark.sources.pbf_codec import (
    read_blob,
    scan_blob_spans,
    read_varint,
    write_varint,
    write_zigzag,
    zigzag,
)

from conftest import element, pbf_rows


def test_varint_roundtrip():
    for n in (0, 1, 127, 128, 300, 2**31, 2**63 - 1):
        buf = write_varint(n)
        v, pos = read_varint(buf, 0)
        assert v == n and pos == len(buf)


def test_zigzag_roundtrip():
    for n in (0, -1, 1, -2, 2, -(2**31), 2**31, -(2**62)):
        buf = write_zigzag(n)
        v, _ = read_varint(buf, 0)
        assert zigzag(v) == n


def test_ten_byte_varint_decodes_via_int64_wraparound():
    # a 10-byte varint (any negative int64 on the wire, or zigzag of
    # |delta| >= 2^62) exceeds int64 as an unsigned value; the vectorized
    # decoder must reinterpret the 64-bit pattern, not raise OverflowError
    from osmdatapy_spark.sources.pbf_codec import np_read_packed_varints

    big = (-5) & 0xFFFFFFFFFFFFFFFF  # wire encoding of int64 -5
    buf = write_varint(big) + write_varint(7) + write_varint(2**63 - 1)
    out = np_read_packed_varints(buf, 0, len(buf))
    assert list(out) == [-5, 7, 2**63 - 1]
    # zigzag path: |delta| >= 2^62 round-trips through the signed decoder
    from osmdatapy_spark.sources.pbf_codec import np_read_packed_signed

    buf2 = write_zigzag(-(2**62) - 3) + write_zigzag(11)
    out2 = np_read_packed_signed(buf2, 0, len(buf2))
    assert list(out2) == [-(2**62) - 3, 11]


def test_framing_scan(fixture_pbf):
    spans = scan_blob_spans(fixture_pbf)
    types = [s.blob_type for s in spans]
    assert types[0] == "OSMHeader"
    assert types.count("OSMData") >= 2  # groups_per_block=3 over 8 groups


def test_codec_decode(fixture_pbf):
    els = pbf_rows(fixture_pbf)
    by_id = {(e.osmtype, e.osmid): e for e in els}
    assert len(by_id) == 9 + 7 + 3
    n5 = by_id[(0, 5)]
    assert n5.tags == {"amenity": "cafe"}
    assert abs(n5.lon - 10.001) < 1e-7 and abs(n5.lat - 50.001) < 1e-7
    w101 = by_id[(1, 101)]
    assert w101.refs == [1, 2, 3]
    assert w101.tags["highway"] == "primary"
    r201 = by_id[(2, 201)]
    assert [m[0] for m in r201.members] == [101, 102, 103, 104]
    assert r201.members[0][2] == "outer"


def test_all_stdlib_codecs_roundtrip(tmp_path):
    # the reference enforces zlib-only (headers.py:84-85); we decode every
    # spec codec — raw/zlib/lzma/bz2 here, lz4/zstd import-gated
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    for codec in ("raw", "zlib", "lzma", "bz2"):
        path = str(tmp_path / f"{codec}.osm.pbf")
        w = PbfWriter(codec=codec)
        w.add_dense_nodes([(1, 10.0, 50.0, {"amenity": "cafe"})])
        w.add_way(101, [1, 1], {"highway": "primary"})
        w.write(path)
        els = pbf_rows(path)
        assert {(e.osmtype, e.osmid) for e in els} == {(0, 1), (1, 101)}, codec
        assert els[0].tags == {"amenity": "cafe"}


def test_spark_read(spark, fixture_pbf):
    df = read_pbf(spark, fixture_pbf)
    assert df.count() == 19
    counts = {r["osmtype"]: r["n"] for r in df.groupBy("osmtype").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 9, 1: 7, 2: 3}


@pytest.mark.parametrize("fmt", ["osmpbf", "osmxml"])
def test_osmtypes_option_prunes_kinds(spark, fixture_pbf, fixture_osm_xml, fmt):
    """The read options both sources share (sources/_row.py), over the
    same 19 elements: ``osmtypes`` prunes element kinds and an unknown
    ``columns`` entry raises."""
    read, path = (read_pbf, fixture_pbf) if fmt == "osmpbf" else (read_osm_xml, fixture_osm_xml)
    assert read(spark, path, osmtypes={1}).count() == 7
    assert read(spark, path, osmtypes={0, 2}).count() == 12
    with pytest.raises(Exception, match=f"unknown {fmt} columns"):
        read(spark, path, columns=["osmid", "nope"]).count()


def test_osm_xml_fixture_matches_writer_and_pbf(spark, fixture_pbf, fixture_osm_xml, fixture_elements):
    """The two sources decode the same element list independently — the
    XML fixture is written from the writer's list, not from a PBF decode
    — and agree with that list and with each other: coordinates to the
    XML's 7 decimals, everything else exact."""

    def canon(r):
        r = r if isinstance(r, dict) else r.asDict()
        return (
            r["osmtype"], r["osmid"], dict(r["tags"]),
            None if r["lon"] is None else round(r["lon"], 7),
            None if r["lat"] is None else round(r["lat"], 7),
            None if r["refs"] is None else list(r["refs"]),
            None if r["members"] is None else [tuple(m) for m in r["members"]],
            r["version"], r["timestamp"], r["changeset"],
        )

    want = sorted(map(canon, fixture_elements))
    assert sorted(map(canon, read_osm_xml(spark, fixture_osm_xml).collect())) == want
    assert sorted(map(canon, read_pbf(spark, fixture_pbf).collect())) == want


def test_read_pbf_leaves_session_conf_unchanged(spark, fixture_pbf):
    """Reading sets no session-wide conf: the source keeps pyspark's
    default pushFilters (absorb nothing), so Python data-source filter
    pushdown stays as the caller's session had it."""
    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert read_pbf(spark, fixture_pbf).filter(col("osmtype") == 1).count() == 7
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, before)


def test_derived_session_reads_both_sources(spark, fixture_pbf, fixture_osm_xml):
    """A ``newSession()`` of a session that already registered the sources
    registers and reads them too (Spark 4.1 checks a registration against
    the JVM's active session, the parent), and the parent still reads."""
    assert read_pbf(spark, fixture_pbf).count() == 19
    assert read_osm_xml(spark, fixture_osm_xml).count() == 19
    child = spark.newSession()
    assert read_pbf(child, fixture_pbf).count() == 19
    assert read_osm_xml(child, fixture_osm_xml).count() == 19
    assert OSM.from_pbf(child, fixture_pbf).nodes.count() == 9
    assert read_pbf(spark, fixture_pbf, osmtypes={1}).count() == 7


def test_two_filters_one_relation_is_correct(spark, fixture_pbf):
    """Regression: scan reuse must not merge differently-filtered scans of
    one relation (the hazard that absorbed pushFilters state triggers —
    see sources/pbf.py module docstring)."""
    scan = read_pbf(spark, fixture_pbf)
    a = scan.filter(col("osmtype") == 0).select("osmid")
    b = scan.filter(col("osmtype") == 1).select("osmid")
    assert a.unionAll(b).count() == 16


def test_bronze_tables(spark, fixture_pbf):
    osm = OSM.from_pbf(spark, fixture_pbf)
    assert osm.nodes.count() == 9
    refs = {r["way_id"]: r["node_id"] for r in osm.way_refs.filter(col("pos") == 0).collect()}
    assert refs[101] == 1 and refs[106] == 1
    m = osm.rel_members.filter(col("rel_id") == 201).orderBy("pos").collect()
    assert [r["member_id"] for r in m] == [101, 102, 103, 104]
    assert m[0]["role"] == "outer"


def test_osm_facade_from_pbf(spark, fixture_pbf):
    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query(ways=True, keep={"highway": []})
    res = osm.query(q).collect()
    assert sorted(r["osmid"] for r in res) == [101, 102, 105]

    # geometry mode: node points + way linestrings as WKT
    qg = Query(nodes=True, ways=True, keep={"amenity": [], "highway": []}, geometry=True)
    geo = {r["osmid"]: r["geometry"] for r in osm.query(qg).collect()}
    assert geo[5].startswith("POINT")
    assert geo[101].startswith("LINESTRING")

    # ring assembly: the multipolygon relation chains into one closed ring;
    # the route relation 202 is not an area and has no rings
    all_rings = osm.relation_rings().collect()
    assert {r["rel_id"] for r in all_rings} == {201, 203}
    rings = [r for r in all_rings if r["rel_id"] == 201]
    assert len(rings) == 1
    nodes = rings[0]["nodes"]
    assert nodes[0] == nodes[-1]
    assert set(nodes) == {1, 2, 3, 6, 9, 8, 7, 4}


def test_topology_from_pbf(spark, fixture_pbf):
    """Way 105 (2-5-8) shares node 2 with 101 and node 8 with 103: the
    shared nodes split 101 and 103 into two segments each."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    segs = osm.topology().collect()
    by_way: dict[int, list] = {}
    for s in segs:
        by_way.setdefault(s["way_id"], []).append(s)
    assert len(by_way[101]) == 2  # split at node 2
    assert len(by_way[103]) == 2  # split at node 8
    assert len(by_way[105]) == 1  # interior node 5 unshared
    seg_101 = sorted(by_way[101], key=lambda s: s["seg"])
    assert (seg_101[0]["source"], seg_101[0]["target"]) == (1, 2)
    assert (seg_101[1]["source"], seg_101[1]["target"]) == (2, 3)


def test_relation_areas(spark, fixture_pbf):
    """Full area pipeline: rel 201 (4 outer ways) → POLYGON; rel 203
    (closed outer square 106 + inner diamond 107) → POLYGON with a hole;
    the route relation 202 is excluded by the G5 type dispatch."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    areas = {r["rel_id"]: r["wkt"] for r in osm.relation_areas().collect()}
    assert set(areas) == {201, 203}
    assert areas[201].startswith("POLYGON ((") and areas[201].count("(") == 2
    # holed polygon: two rings → three '(' (POLYGON ((outer), (hole)))
    assert areas[203].startswith("POLYGON ((") and areas[203].count("(") == 3
    # hole contains the inner diamond's coordinates (node 2 = 10.001, 50.0)
    assert "10.0010000 50.0000000" in areas[203].split("), (")[1]


def test_relation_lines(spark, fixture_pbf):
    """Route relation 202 = ways 101 (1-2-3) and 105 (2-5-8): the two ways
    don't chain end-to-end, so the route assembles as a MULTILINESTRING of
    two open chains (reference line branch _frame.py:87-105); area
    relations 201/203 are excluded by the G5 type dispatch."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    lines = {r["rel_id"]: r["wkt"] for r in osm.relation_lines().collect()}
    assert set(lines) == {202}
    wkt = lines[202]
    assert wkt.startswith("MULTILINESTRING ((")
    chains = wkt[len("MULTILINESTRING ("):-1].split("), (")
    assert len(chains) == 2
    # chain 0 = way 101 nodes 1,2,3 (lat 50.0 row); open — 3 points, not closed
    assert chains[0].count(",") == 2
    assert "10.0000000 50.0000000" in chains[0]
    # chain 1 = way 105 nodes 2,5,8 (lon 10.001 column)
    assert "10.0010000 50.0020000" in chains[1]


def test_query_attaches_route_linestrings(spark, fixture_pbf):
    """OSM.query(geometry=True) coalesces route linestrings into the
    geometry column next to relation areas (reference _frame.py:87-105)."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query(relations=True, geometry=True)
    got = {r["osmid"]: r["geometry"] for r in osm.query(q).collect()}
    assert got[202].startswith("MULTILINESTRING (")
    assert got[201].startswith("POLYGON (")
    assert got[203].startswith("POLYGON (")


def test_bronze_roundtrip(spark, fixture_pbf, tmp_path):
    """PBF → bronze parquet → engine: results identical to the direct scan."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    bronze = str(tmp_path / "bronze")
    osm.to_bronze(bronze)
    osm2 = OSM.from_bronze(spark, bronze)
    q = Query(ways=True, keep={"highway": []})
    direct = sorted(r["osmid"] for r in osm.query(q).collect())
    via_bronze = sorted(r["osmid"] for r in osm2.query(q).collect())
    assert direct == via_bronze
    segs_a = sorted((s["way_id"], s["seg"], s["source"], s["target"]) for s in osm.topology().collect())
    segs_b = sorted((s["way_id"], s["seg"], s["source"], s["target"]) for s in osm2.topology().collect())
    assert segs_a == segs_b


def test_from_bronze_optional_tables(spark, fixture_pbf, tmp_path):
    """A missing rel_members directory opens as None, but a corrupt
    way_refs table raises instead of silently dropping way geometry."""
    import shutil

    from py4j.protocol import Py4JJavaError

    bronze = tmp_path / "bronze"
    OSM.from_pbf(spark, fixture_pbf).to_bronze(str(bronze))
    shutil.rmtree(bronze / "rel_members")
    osm = OSM.from_bronze(spark, str(bronze))
    assert osm.rel_members is None
    assert osm.way_refs.count() > 0
    for f in (bronze / "way_refs").glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        OSM.from_bronze(spark, str(bronze))


def test_bucketed_bronze_join_has_no_exchange(spark, fixture_pbf, tmp_path):
    """The SCALE.md headline: co-bucketed nodes/way_refs join WITHOUT a
    shuffle — the biggest exchange in the topology/coords pipeline
    disappears when the bronze tier is bucketed on the join key."""
    from osmdatapy_spark.plans.audit import plan_summary

    osm = OSM.from_pbf(spark, fixture_pbf)
    osm.to_bronze(str(tmp_path / "bronze"), buckets=4)
    try:
        nodes = spark.table("bronze_nodes")
        refs = spark.table("bronze_way_refs")
        joined = refs.join(nodes, refs["node_id"] == nodes["osmid"]).select(
            "way_id", "node_id", "lon", "lat"
        )
        assert joined.count() > 0
        s = plan_summary(joined)
        assert s.n_exchanges == 0, s.text
    finally:
        spark.sql("DROP TABLE IF EXISTS bronze_nodes")
        spark.sql("DROP TABLE IF EXISTS bronze_way_refs")


def test_osm_filepath_constructor_parity(spark, tmp_path):
    """Reference drop-in: OSM('file.pbf') on the active session must equal
    OSM.from_pbf(spark, path) (osmdata.py:29 entry point)."""
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter(codec="zlib")
    w.add_dense_nodes([(1, 1.0, 2.0, {"amenity": "cafe"}), (2, 3.0, 4.0, {})])
    w.add_ways([(10, [1, 2], {"highway": "path"})])
    path = str(tmp_path / "tiny.osm.pbf")
    w.write(path)

    via_str = OSM(path)
    via_cls = OSM.from_pbf(spark, path)
    assert via_str.elements.count() == via_cls.elements.count() == 3
    assert via_str.nodes.count() == 2


def test_to_pbf_roundtrip(spark, fixture_pbf, tmp_path):
    """Sink → source round-trip: to_pbf shards decode back to the same
    elements, coordinates, tags, way refs, and relation members."""
    src = OSM.from_pbf(spark, fixture_pbf)
    out_dir = str(tmp_path / "sharded")
    n_shards = src.to_pbf(out_dir, elements_per_group=4)
    assert n_shards >= 1

    import glob

    parts = sorted(glob.glob(f"{out_dir}/part-*.osm.pbf"))
    assert len(parts) == n_shards
    backs = [OSM.from_pbf(spark, p) for p in parts]
    elements = backs[0].elements
    nodes = backs[0].nodes
    refs = backs[0].way_refs
    mems = backs[0].rel_members
    for b in backs[1:]:
        elements = elements.unionByName(b.elements, allowMissingColumns=True)
        nodes = nodes.unionByName(b.nodes)
        refs = refs.unionByName(b.way_refs)
        mems = mems.unionByName(b.rel_members)

    # element population by kind
    want = {(r["osmtype"], r["osmid"]) for r in src.elements.select("osmtype", "osmid").collect()}
    got = {(r["osmtype"], r["osmid"]) for r in elements.select("osmtype", "osmid").collect()}
    assert got == want

    # coordinates survive (granularity 100 => 1e-7 exact)
    want_xy = {r["osmid"]: (r["lon"], r["lat"]) for r in src.nodes.collect()}
    got_xy = {r["osmid"]: (r["lon"], r["lat"]) for r in nodes.collect()}
    assert got_xy == want_xy

    # tags survive
    want_tags = {r["osmid"]: dict(r["tags"]) for r in src.elements.filter(F.size("tags") > 0).select("osmid", "tags").collect()}
    got_tags = {r["osmid"]: dict(r["tags"]) for r in elements.filter(F.size("tags") > 0).select("osmid", "tags").collect()}
    assert got_tags == want_tags

    # way refs and relation members, order included
    want_refs = sorted((r["way_id"], r["pos"], r["node_id"]) for r in src.way_refs.collect())
    got_refs = sorted((r["way_id"], r["pos"], r["node_id"]) for r in refs.collect())
    assert got_refs == want_refs
    want_m = sorted(tuple(r) for r in src.rel_members.collect())
    got_m = sorted(tuple(r) for r in mems.collect())
    assert got_m == want_m


def test_query_on_path_backed_osm_uses_kind_pruned_scan(spark, fixture_pbf):
    """A ways-only query on an OSM opened from a .pbf path must re-derive
    its elements relation with the osmtypes option pushed to the source
    (P2 block pruning end-to-end) — and still return identical rows to
    the unpruned table-backed pipeline."""
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query(ways=True, nodes=False, relations=False)
    pruned = osm._elements_for(q)
    # the pruned relation is a fresh scan, not the shared 3-kind elements
    assert pruned is not osm.elements
    assert "osmtypes -> 1" in pruned._jdf.queryExecution().toString() or \
        pruned.count() == osm.elements.filter(col("osmtype") == 1).count()
    # end-to-end equality against the post-decode-filter pipeline
    table_backed = OSM.from_tables(osm.elements, osm.nodes, osm.way_refs, osm.rel_members)
    a = sorted(r["osmid"] for r in osm.query(q).collect())
    b = sorted(r["osmid"] for r in table_backed.query(q).collect())
    assert a == b and len(a) > 0


def test_corrupt_pbf_fails_cleanly(spark, fixture_pbf, tmp_path):
    """Malformed input must raise a diagnosable error, not decode garbage:
    (a) truncated mid-frame, (b) flipped bytes inside a zlib blob, (c) a
    non-PBF file.  At cluster scale a clean per-file error is the
    difference between one failed task and a silently wrong table."""
    import zlib

    import pytest as _pytest

    from osmdatapy_spark.sources.pbf_codec import read_blob, scan_blob_spans

    raw = open(fixture_pbf, "rb").read()

    # (a) truncated mid-frame: the final span would extend past EOF —
    # the planning scan must refuse it, not return a phantom partition
    trunc = tmp_path / "trunc.osm.pbf"
    trunc.write_bytes(raw[: len(raw) - 7])
    full_spans = list(scan_blob_spans(fixture_pbf))
    with _pytest.raises(ValueError, match="truncated"):
        list(scan_blob_spans(str(trunc)))

    # (b) corrupted compressed payload: zlib must raise, not yield noise
    spans = [s for s in full_spans if s.blob_type == "OSMData"]
    assert spans
    s0 = spans[0]
    corrupted = bytearray(raw)
    mid = s0.offset + (s0.size // 2)
    for i in range(mid, mid + 8):
        corrupted[i] ^= 0xFF
    bad = tmp_path / "bad.osm.pbf"
    bad.write_bytes(bytes(corrupted))
    with _pytest.raises((zlib.error, ValueError)):
        for sp in scan_blob_spans(str(bad)):
            if sp.blob_type == "OSMData":
                read_blob(str(bad), sp)

    # (c) not a PBF at all
    junk = tmp_path / "junk.osm.pbf"
    junk.write_bytes(b"\x00\x01parquet-not-pbf" * 100)
    with _pytest.raises(ValueError):
        list(scan_blob_spans(str(junk)))


def _assert_rows_match_writer(rows, elements, with_metadata: bool, quantum: float) -> None:
    """Decoded rows against the element dicts the writer was given, in
    order: ids, kinds, tags, refs and members exact, coordinates within
    the writer's granularity quantum, metadata as written (or None when
    the decode does not ask for it)."""
    assert len(rows) == len(elements)
    for r, e in zip(rows, elements):
        assert (r.osmid, r.osmtype, r.tags, r.refs, r.members) == (
            e["osmid"], e["osmtype"], e["tags"], e["refs"], e["members"]
        ), e
        if e["osmtype"] == 0:
            assert r.lon == pytest.approx(e["lon"], abs=quantum), e
            assert r.lat == pytest.approx(e["lat"], abs=quantum), e
        else:
            assert (r.lon, r.lat) == (None, None)
        meta = (e["version"], e["timestamp"], e["changeset"]) if with_metadata else (None,) * 3
        assert (r.version, r.timestamp, r.changeset) == meta, e


def test_segment_decode_matches_writer_elements(fixture_pbf, fixture_elements, tmp_path):
    """The one block decoder (``decode_block_segments``) reproduces the
    element lists the writer was given, in order, across several blocks,
    with metadata decoded and not: the grid fixture (no metadata), and a
    file at granularity 1000 mixing DenseInfo and Info-bearing groups
    with metadata-less ones."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    for with_meta in (False, True):
        _assert_rows_match_writer(pbf_rows(fixture_pbf, with_meta), fixture_elements, with_meta, 1e-7)

    dense_meta = [
        element(0, 10 + i, {"amenity": "bench"} if i % 2 else {}, lon=-73.9 + i * 0.0123457,
                lat=40.7 - i * 0.0098765, meta=(i + 1, 1_600_000_000 - 37 * i, 5_000 + i))
        for i in range(6)
    ]
    dense_bare = [element(0, 30 + i, {}, lon=2.35 + i * 1e-5, lat=48.85) for i in range(3)]
    ways = [
        element(1, 100, {"highway": "residential"}, refs=[10, 11, 12], meta=(3, 1_600_000_100, 6_000)),
        element(1, 101, {}, refs=[12, 30, 31]),
    ]
    rels = [
        element(2, 200, {"type": "route"}, members=[(100, 1, "forward"), (10, 0, "stop")],
                meta=(9, 1_600_000_200, 7_000)),
        element(2, 201, {"type": "site"}, members=[(200, 2, ""), (101, 1, "")]),
    ]

    def meta(e):
        return None if e["version"] is None else (e["version"], e["timestamp"], e["changeset"])

    w = PbfWriter(granularity=1000)
    w.add_dense_nodes([(e["osmid"], e["lon"], e["lat"], e["tags"], meta(e)) for e in dense_meta])
    w.add_dense_nodes([(e["osmid"], e["lon"], e["lat"], e["tags"]) for e in dense_bare])
    w.add_ways([(e["osmid"], e["refs"], e["tags"], meta(e)) for e in ways])
    w.add_relations([(e["osmid"], e["members"], e["tags"], meta(e)) for e in rels])
    p = str(tmp_path / "meta.osm.pbf")
    w.write(p, groups_per_block=2)
    assert sum(s.blob_type == "OSMData" for s in scan_blob_spans(p)) == 2
    for with_meta in (False, True):
        _assert_rows_match_writer(
            pbf_rows(p, with_meta), dense_meta + dense_bare + ways + rels, with_meta, 1e-6
        )


def test_columns_option_prunes_relation_schema(spark, fixture_pbf):
    """The 'columns' read option IS the column pruning (the Python DS API
    has no pruning pushdown): the relation schema shrinks, the scan's
    ReadSchema shows only the requested fields, and values match the
    full-schema read."""
    pruned = read_pbf(spark, fixture_pbf, osmtypes={0}, columns=["osmid", "lon", "lat"])
    assert pruned.columns == ["osmid", "lon", "lat"]
    full = read_pbf(spark, fixture_pbf, osmtypes={0}).select("osmid", "lon", "lat")
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
    # ways with refs but no tag decode
    refs = read_pbf(spark, fixture_pbf, osmtypes={1}, columns=["osmid", "refs"])
    assert refs.columns == ["osmid", "refs"]
    full_refs = read_pbf(spark, fixture_pbf, osmtypes={1}).select("osmid", "refs")
    assert sorted(map(tuple, ((r[0], tuple(r[1])) for r in refs.collect()))) == sorted(
        map(tuple, ((r[0], tuple(r[1])) for r in full_refs.collect()))
    )


def test_dense_columns_partial_metadata_parity():
    """DenseInfo timestamp and changeset delta streams must match the id
    count like versions do: a stream shorter than the group raises
    ``ValueError`` (no later node's value could be told apart), while an
    absent stream reads as all-zero deltas."""
    from osmdatapy_spark.sources.pbf_codec import (
        DenseColumns,
        decode_block_segments,
        enc_bytes_field,
        enc_packed_deltas,
        enc_packed_field,
    )

    def block(timestamps: list, changesets: list) -> bytes:
        # a DenseNodes message with 4 nodes and 4 versions
        dense = (
            enc_packed_deltas(1, [10, 11, 12, 13])        # ids
            + enc_bytes_field(
                5,
                enc_packed_field(1, [1, 1, 1, 1])          # versions (4)
                + enc_packed_deltas(2, timestamps)
                + enc_packed_deltas(3, changesets),
            )
            + enc_packed_deltas(8, [500000000, 0, 0, 0])   # lats
            + enc_packed_deltas(9, [100000000, 0, 0, 0])   # lons
        )
        return enc_bytes_field(2, enc_bytes_field(2, dense))  # PrimitiveBlock.primitivegroup

    with pytest.raises(ValueError, match="malformed DenseNodes: 4 ids but 2 timestamps"):
        decode_block_segments(block([100, 5], [7, 7, 7, 7]), with_metadata=True)
    with pytest.raises(ValueError, match="malformed DenseNodes: 4 ids but 1 changesets"):
        decode_block_segments(block([100, 5, 5, 5], [7]), with_metadata=True)

    segs = decode_block_segments(block([], []), with_metadata=True)
    (dc,) = [s for s in segs if isinstance(s, DenseColumns)]
    assert [int(x) for x in dc.timestamps] == [0, 0, 0, 0]
    assert [int(x) for x in dc.changesets] == [0, 0, 0, 0]
    assert [int(x) for x in dc.versions] == [1, 1, 1, 1]


def _mismatched_element_block(case: str) -> bytes:
    """A one-element PrimitiveBlock whose element breaks a parallel-array
    rule: a way with keys [1, 2] but vals [1], or a relation with two
    memids but one type."""
    from osmdatapy_spark.sources.pbf_codec import (
        enc_bytes_field,
        enc_packed_deltas,
        enc_packed_field,
        enc_varint_field,
    )

    strings = b"".join(enc_bytes_field(1, t) for t in (b"", b"highway", b"name"))
    if case == "way_keys_vals":
        element = enc_bytes_field(3, (
            enc_varint_field(1, 5) + enc_packed_field(2, [1, 2]) + enc_packed_field(3, [1])
            + enc_packed_deltas(8, [1, 2])
        ))
    else:
        element = enc_bytes_field(4, (
            enc_varint_field(1, 7) + enc_packed_field(8, [0, 0])
            + enc_packed_deltas(9, [1, 2]) + enc_packed_field(10, [0])
        ))
    return enc_bytes_field(1, strings) + enc_bytes_field(2, element)


@pytest.mark.parametrize(
    "case, message",
    [
        ("way_keys_vals", "malformed element 5: 2 keys but 1 vals"),
        ("relation_types", "malformed relation 7: 2 memids but 1 types"),
    ],
)
def test_mismatched_element_arrays_raise(spark, tmp_path, case, message):
    """A way whose keys and vals, or a relation whose memids and types,
    differ in length raises ``ValueError`` from the decoder, and a Spark
    read fails naming the file and the blob's offset."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter, decode_block_segments, enc_bytes_field

    block = _mismatched_element_block(case)
    with pytest.raises(ValueError, match=message):
        decode_block_segments(block)

    w = PbfWriter(codec="raw")
    header = enc_bytes_field(4, b"OsmSchema-V0.6") + enc_bytes_field(4, b"DenseNodes")
    p = tmp_path / f"{case}.osm.pbf"
    p.write_bytes(w._frame("OSMHeader", w._blob(header)) + w._frame("OSMData", w._blob(block)))
    (span,) = [s for s in scan_blob_spans(str(p)) if s.blob_type == "OSMData"]
    with pytest.raises(Exception, match=f"blob at offset {span.offset}: {message}") as err:
        read_pbf(spark, str(p)).collect()
    assert str(p) in str(err.value)


def _corrupt_dense_block(case: str) -> bytes:
    """A one-group PrimitiveBlock whose 3-node DenseNodes group breaks
    the parallel-array rule in one way."""
    from osmdatapy_spark.sources.pbf_codec import (
        enc_bytes_field,
        enc_packed_deltas,
        enc_packed_field,
    )

    lats = [500_000_000, 500_000_100] if case == "short_lats" else [500_000_000, 500_000_100, 500_000_200]
    # string 1 = "amenity", 2 = "cafe"; node 1 tagged, nodes 2-3 untagged
    kv = [1, 2, 0, 0] if case == "kv_terminators" else [1, 2, 0, 0, 0]
    versions = [1, 1] if case == "short_versions" else [1, 1, 1]
    dense = (
        enc_packed_deltas(1, [1, 2, 3])
        + enc_bytes_field(
            5,
            enc_packed_field(1, versions)
            + enc_packed_deltas(2, [100, 200, 300])
            + enc_packed_deltas(3, [7, 7, 7]),
        )
        + enc_packed_deltas(8, lats)
        + enc_packed_deltas(9, [100_000_000] * 3)
        + enc_packed_field(10, kv)
    )
    strings = b"".join(enc_bytes_field(1, t) for t in (b"", b"amenity", b"cafe"))
    return enc_bytes_field(1, strings) + enc_bytes_field(2, enc_bytes_field(2, dense))


@pytest.mark.parametrize(
    "case, message",
    [
        ("kv_terminators", "3 ids but 2 keys_vals terminators"),
        ("short_versions", "3 ids but 2 versions"),
        ("short_lats", "3 ids but 2 lats"),
    ],
)
def test_corrupt_dense_nodes_raise(spark, tmp_path, case, message):
    """A DenseNodes group whose keys_vals terminators, versions or lats
    disagree with its id count raises ``ValueError`` from the decoder and
    fails a Spark read naming the file and the blob's offset — no row of
    it is guessed."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter, decode_block_segments, enc_bytes_field

    block = _corrupt_dense_block(case)
    with pytest.raises(ValueError, match=f"malformed DenseNodes: {message}"):
        decode_block_segments(block, with_metadata=True)

    w = PbfWriter(codec="raw")
    header = enc_bytes_field(4, b"OsmSchema-V0.6") + enc_bytes_field(4, b"DenseNodes")
    p = tmp_path / f"{case}.osm.pbf"
    p.write_bytes(w._frame("OSMHeader", w._blob(header)) + w._frame("OSMData", w._blob(block)))
    (span,) = [s for s in scan_blob_spans(str(p)) if s.blob_type == "OSMData"]
    with pytest.raises(Exception, match=f"blob at offset {span.offset}: malformed DenseNodes: {message}") as err:
        read_pbf(spark, str(p)).collect()
    assert str(p) in str(err.value)


def test_multi_file_read(spark, tmp_path):
    """A directory (or glob) of .pbf extracts scans as their union —
    partitions are planned per file, deterministic sorted order."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    d = tmp_path / "extracts"
    d.mkdir()
    for part, base in (("a", 0), ("b", 100)):
        w = PbfWriter()
        w.add_dense_nodes(
            [(base + i + 1, 10.0 + i, 50.0, {"amenity": "cafe"} if i == 0 else {}) for i in range(5)]
        )
        w.add_way(base + 50, [base + 1, base + 2], {"highway": "x"})
        w.write(str(d / f"region_{part}.osm.pbf"))

    df = read_pbf(spark, str(d))
    assert df.count() == 12  # 2 files x (5 nodes + 1 way)
    ids = {r["osmid"] for r in df.filter(col("osmtype") == 1).collect()}
    assert ids == {50, 150}

    # glob form selects a subset
    df_a = read_pbf(spark, str(d / "region_a*.pbf"))
    assert df_a.count() == 6

    # empty dir / no-match glob fail loudly
    import pytest

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception):
        read_pbf(spark, str(empty)).count()
    with pytest.raises(Exception):
        read_pbf(spark, str(d / "nope_*.pbf")).count()


def test_writer_metadata_roundtrip(tmp_path):
    """Info/DenseInfo WRITE support (the reference is read-only; our read
    side decoded metadata since round 1): version/timestamp/changeset
    round-trip exactly through the wire format for all three element
    kinds, metadata-less groups still decode as None, and a mixed
    DenseNodes group (some nodes with meta, some without) is rejected
    loudly — DenseInfo is a parallel array by spec."""
    import pytest

    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    w.add_dense_nodes([
        (1, 1.0, 2.0, {"a": "b"}, (3, 1_000_000, 42)),
        (2, 3.0, 4.0, {}, (7, 1_000_100, 43)),
    ])
    w.add_ways([(10, [1, 2], {"h": "r"}, (5, 2_000_000, 99))])
    w.add_relations([(20, [(10, 1, "outer")], {"type": "multipolygon"}, (2, 3_000_000, 7))])
    w.add_dense_nodes([(5, 5.0, 5.0, {})])  # meta-less group
    p = str(tmp_path / "meta.osm.pbf")
    w.write(p)

    els = pbf_rows(p, with_metadata=True)
    got = {(e.osmid, e.osmtype): (e.version, e.timestamp, e.changeset) for e in els}
    assert got[(1, 0)] == (3, 1_000_000, 42)
    assert got[(2, 0)] == (7, 1_000_100, 43)
    assert got[(10, 1)] == (5, 2_000_000, 99)
    assert got[(20, 2)] == (2, 3_000_000, 7)
    assert got[(5, 0)] == (None, None, None)

    w2 = PbfWriter()
    with pytest.raises(ValueError, match="parallel array"):
        w2.add_dense_nodes([(1, 0.0, 0.0, {}, (1, 1, 1)), (2, 0.0, 0.0, {})])


def test_write_varint_rejects_negative():
    """write_varint is unsigned by contract; a negative input must raise
    instead of hanging the encoder in an infinite loop.  Signed proto
    int32/int64 fields go through write_varint_i64 (two's complement),
    which bounds its domain to int64."""
    import pytest

    from osmdatapy_spark.sources.pbf_codec import write_varint, write_varint_i64

    with pytest.raises(ValueError, match="negative"):
        write_varint(-1)
    with pytest.raises(ValueError, match="int64 range"):
        write_varint_i64(1 << 63)
    with pytest.raises(ValueError, match="int64 range"):
        write_varint_i64(-(1 << 63) - 1)


def test_negative_metadata_roundtrip(tmp_path):
    """Pre-1970 (negative) timestamps and negative changesets are legal
    proto int64 values and must round-trip through BOTH metadata wire
    forms: Info submessages (ways/relations/plain nodes — two's-
    complement 10-byte varints) and DenseInfo (zigzag deltas).  Round 10
    shipped an asymmetry where dense nodes accepted them but ways and
    relations raised mid-write, stranding partial shards."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    w.add_dense_nodes([
        (1, 1.0, 2.0, {}, (1, -86_400, 42)),       # 1969-12-31
        (2, 3.0, 4.0, {}, (2, -1, -7)),
    ])
    w.add_ways([(10, [1, 2], {}, (5, -2_208_988_800, 99))])   # 1900-01-01
    w.add_relations([(20, [(10, 1, "outer")], {}, (2, -100, -3))])
    p = str(tmp_path / "neg.osm.pbf")
    w.write(p)

    els = pbf_rows(p, with_metadata=True)
    got = {(e.osmid, e.osmtype): (e.version, e.timestamp, e.changeset) for e in els}
    assert got[(1, 0)] == (1, -86_400, 42)
    assert got[(2, 0)] == (2, -1, -7)
    assert got[(10, 1)] == (5, -2_208_988_800, 99)
    assert got[(20, 2)] == (2, -100, -3)


def _dict_prune_fixture(tmp_path) -> str:
    """40 one-group blocks of 50 ways each; blocks where b % 8 == 3 tag
    every way with the rare 'bridge' key (5 of 40 blocks).  Per-block
    string tables (the PbfWriter contract) make the dictionary skip
    observable at blob granularity."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    for b in range(40):
        tags = {"highway": "residential"}
        if b % 8 == 3:
            tags = {"highway": "residential", "bridge": "yes"}
        w.add_ways([
            (b * 50 + i + 1, [1, 2], dict(tags)) for i in range(50)
        ])
    p = str(tmp_path / "prune.osm.pbf")
    w.write(p, groups_per_block=1)
    return p


def test_dictionary_prune_plans_fewer_partitions(tmp_path):
    """The plan_prune pass must plan strictly fewer partitions for a rare
    must key (5 of 40 blobs survive → 1 run at the 8-blob coalesce cap
    vs 5 runs unpruned), and the executor-side skip alone must leave
    planning untouched."""
    from osmdatapy_spark.sources.pbf import PBF_SCHEMA, PbfDataSourceReader

    p = _dict_prune_fixture(tmp_path)
    full = PbfDataSourceReader(PBF_SCHEMA, {"path": p})
    skip = PbfDataSourceReader(
        PBF_SCHEMA, {"path": p, "must_tag_keys": "bridge"}
    )
    pruned = PbfDataSourceReader(
        PBF_SCHEMA, {"path": p, "must_tag_keys": "bridge", "plan_prune": "true"}
    )
    n_full = len(full.partitions())
    n_skip = len(skip.partitions())
    n_pruned = len(pruned.partitions())
    assert n_full == 5  # 40 blobs / 8-blob runs
    assert n_skip == n_full  # executor-side skip does not replan
    assert n_pruned == 1  # 5 surviving blobs coalesce into one run
    # planned spans must be exactly the bridge blocks' blobs
    spans = [s for part in pruned.partitions() for s in part.spans]
    assert len(spans) == 5


def test_dictionary_prune_workers_invariant(tmp_path, monkeypatch):
    """The parallel probe (round-12: bounded process pool instead of a
    sequential driver loop) must return EXACTLY the same keep-mask at any
    worker count — the pool changes wall-time only, never the mask or
    span order.  The pool threshold is forced to 1 so the 40-blob
    fixture actually exercises the process path."""
    from osmdatapy_spark.sources import pbf as pbf_mod
    from osmdatapy_spark.sources.pbf_codec import scan_blob_spans

    monkeypatch.setattr(pbf_mod, "_PROBE_POOL_MIN_SPANS", 1)
    p = _dict_prune_fixture(tmp_path)
    spans = [s for s in scan_blob_spans(p) if s.blob_type == "OSMData"]

    def keep(workers):
        return pbf_mod._probe_dictionaries(p, spans, frozenset({"bridge"}), None, workers=workers)

    sequential = keep(1)
    assert sum(sequential) == 5
    assert keep(16) == sequential
    assert keep(3) == sequential


def test_dictionary_prune_pool_inside_spark_planning(spark, tmp_path):
    """The process pool must work INSIDE Spark's planning worker, not just
    when partitions() is called directly: 200 blobs crosses the 192-span
    pool threshold, so this read forks the ProcessPoolExecutor from the
    data-source planning process — the environment the other prune tests
    never reach (40 blobs stay sequential; the invariance test calls
    partitions() outside Spark)."""
    from osmdatapy_spark.sources.pbf import read_pbf
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    for b in range(200):
        tags = {"highway": "residential"}
        if b % 8 == 3:
            tags = {"highway": "residential", "bridge": "yes"}
        w.add_ways([(b * 50 + i + 1, [1, 2], dict(tags)) for i in range(50)])
    p = str(tmp_path / "pool200.osm.pbf")
    w.write(p, groups_per_block=1)
    want = sorted(b * 50 + i + 1 for b in range(200) if b % 8 == 3 for i in range(50))
    df = read_pbf(spark, p, must_tag_keys={"bridge"}, plan_prune=True)
    got = sorted(r.osmid for r in df.select("osmid").collect())
    assert got == want


def test_dictionary_prune_rows_exact(spark, tmp_path):
    """Both skip modes return exactly the elements of surviving blocks —
    and composed with the matching tag filter, exactly the rows the
    unpruned scan + filter returns (pruning is a plan optimization,
    never a semantics change for the promised contract)."""
    from osmdatapy_spark.sources.pbf import read_pbf

    p = _dict_prune_fixture(tmp_path)
    want = sorted(
        b * 50 + i + 1 for b in range(40) if b % 8 == 3 for i in range(50)
    )
    base = read_pbf(spark, p).filter("element_at(tags, 'bridge') IS NOT NULL")
    got_base = sorted(r.osmid for r in base.select("osmid").collect())
    assert got_base == want
    for plan_prune in (False, True):
        df = read_pbf(
            spark, p, must_tag_keys={"bridge"}, plan_prune=plan_prune
        ).filter("element_at(tags, 'bridge') IS NOT NULL")
        got = sorted(r.osmid for r in df.select("osmid").collect())
        assert got == want, f"plan_prune={plan_prune}"


def test_blob_dictionary_has_streams_head(tmp_path):
    """The planning probe answers from the stringtable without a full
    block decode, for present and absent keys, across codecs."""
    from osmdatapy_spark.sources.pbf_codec import (
        PbfWriter,
        blob_dictionary_has,
        scan_blob_spans,
    )

    for codec in ("zlib", "raw", "lzma"):
        w = PbfWriter(codec=codec)
        w.add_ways([(1, [1, 2], {"highway": "residential"})])
        w.add_ways([(2, [1, 2], {"bridge": "yes"})])
        p = str(tmp_path / f"probe_{codec}.osm.pbf")
        w.write(p, groups_per_block=1)
        data = [s for s in scan_blob_spans(p) if s.blob_type == "OSMData"]
        assert len(data) == 2
        assert blob_dictionary_has(p, data[0], frozenset({"highway"}))
        assert not blob_dictionary_has(p, data[0], frozenset({"bridge"}))
        assert blob_dictionary_has(p, data[1], frozenset({"bridge", "yes"}))
        assert not blob_dictionary_has(p, data[1], frozenset({"bridge", "nope"}))


def test_any_tag_keys_disjunctive_skip(spark, tmp_path):
    """any_tag_keys skips a block only when NONE of the keys is present —
    the Query.must_tags shape — and the engine's query path pushes
    must_tags through it with unchanged results."""
    from osmdatapy_spark.sources.pbf import PBF_SCHEMA, PbfDataSourceReader, read_pbf

    p = _dict_prune_fixture(tmp_path)
    # 'bridge' OR 'nonexistent': same 5 blocks survive planning
    pruned = PbfDataSourceReader(
        PBF_SCHEMA,
        {"path": p, "any_tag_keys": "bridge,nonexistent", "plan_prune": "true"},
    )
    assert len(pruned.partitions()) == 1
    # 'highway' OR 'bridge': every block has highway — nothing prunes
    allb = PbfDataSourceReader(
        PBF_SCHEMA,
        {"path": p, "any_tag_keys": "highway,bridge", "plan_prune": "true"},
    )
    assert len(allb.partitions()) == 5
    want = sorted(
        b * 50 + i + 1 for b in range(40) if b % 8 == 3 for i in range(50)
    )
    df = read_pbf(spark, p, any_tag_keys={"bridge", "nonexistent"}).filter(
        "element_at(tags, 'bridge') IS NOT NULL"
    )
    assert sorted(r.osmid for r in df.select("osmid").collect()) == want


def test_engine_query_pushes_must_tags_dictionary_skip(spark, tmp_path):
    """OSM.query with must_tags returns identical rows whether or not the
    scan-level dictionary skip fires (it always does now for pbf-backed
    OSMs) — pinned against a keys-absent-in-most-blocks fixture."""
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    p = _dict_prune_fixture(tmp_path)
    osm = OSM.from_pbf(spark, p)
    res = osm.query(Query(ways=True, must_tags=["bridge"])).collect()
    want = sorted(
        b * 50 + i + 1 for b in range(40) if b % 8 == 3 for i in range(50)
    )
    assert sorted(r["osmid"] for r in res) == want


def test_blob_dictionary_probe_large_block(tmp_path):
    """Progressive probe on a block whose compressed payload spans many
    read chunks: the stringtable still resolves from the head (and the
    absent-key answer is still exact)."""
    from osmdatapy_spark.sources.pbf_codec import (
        PbfWriter,
        blob_dictionary_has,
        scan_blob_spans,
    )

    w = PbfWriter()
    # 60k ways with high-entropy ref deltas → compressed payload well
    # beyond the 16 KiB probe chunk
    w.add_ways([
        (i + 1, [i * 7919 % 100000, i * 104729 % 100000], {"highway": "x"})
        for i in range(60000)
    ])
    p = str(tmp_path / "big.osm.pbf")
    w.write(p, groups_per_block=1)
    span = [s for s in scan_blob_spans(p) if s.blob_type == "OSMData"][0]
    assert span.size > 64 * 1024  # genuinely multi-chunk
    assert blob_dictionary_has(p, span, frozenset({"highway"}))
    assert not blob_dictionary_has(p, span, frozenset({"bridge"}))
    assert blob_dictionary_has(
        p, span, frozenset(), any_of=frozenset({"bridge", "highway"})
    )
    assert not blob_dictionary_has(
        p, span, frozenset(), any_of=frozenset({"bridge", "tunnel"})
    )


def test_engine_query_pushes_keep_first_keys(spark, tmp_path):
    """With keep_first=True (the constructor default) a keep match is
    mandatory, so keep KEYS ride the dictionary skip; with
    keep_first=False keep is advisory (~exclude | keep) and must NOT
    prune — unmatched-but-unexcluded elements still flow."""
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    p = _dict_prune_fixture(tmp_path)
    osm = OSM.from_pbf(spark, p)
    want = sorted(
        b * 50 + i + 1 for b in range(40) if b % 8 == 3 for i in range(50)
    )
    got = osm.query(Query(ways=True, keep={"bridge": []})).collect()
    assert sorted(r["osmid"] for r in got) == want
    # advisory mode: every way survives (none is excluded), including
    # those in blocks without 'bridge' — pruning here would be a bug
    got_all = osm.query(
        Query(
            ways=True,
            keep={"bridge": []},
            exclude={"nonexistent": []},
            keep_first=False,
        )
    ).collect()
    assert len(got_all) == 2000


def test_way_geometry_parity_across_backings(spark, tmp_path):
    """A nodes+ways geometry query gives the same rows through
    ``from_pbf`` (single pass over the way side), ``from_tables`` (refs
    inline, or only in ``way_refs``), ``from_bronze`` and ``from_xml``, on
    the corner cases of the coordinate gather: a node and a way sharing id
    101, a way with empty refs, a way referencing a missing node and a
    one-node way; ``wkb=True`` encodes the same geometries."""
    from conftest import wkb_as_wkt

    from osmdatapy_spark.sources.pbf_codec import PbfWriter
    from osmdatapy_spark.sources.xml import write_osm_xml

    p = str(tmp_path / "corners.osm.pbf")
    w = PbfWriter()
    grid = [(i + 1, 10.0 + (i % 3) * 0.001, 50.0 + (i // 3) * 0.001, {}) for i in range(9)]
    grid[4] = (5, 10.001, 50.001, {"amenity": "cafe"})
    nodes = grid + [(101, 11.0, 51.0, {"amenity": "bar"})]
    ways = [
        (101, [1, 2, 3], {"highway": "primary"}),
        (106, [1, 3, 9, 7, 1], {"highway": "x", "building": "yes"}),
        (108, [], {"highway": "empty"}),
        (109, [1, 999], {"highway": "missing"}),
        (110, [5], {"highway": "single"}),
        (111, [2, 5], {"name": "untagged"}),
    ]
    w.add_dense_nodes(nodes)
    for way in ways:
        w.add_way(*way)
    w.write(p)
    xml = tmp_path / "corners.osm"
    with open(xml, "w") as f:
        write_osm_xml(
            [dict(osmid=i, osmtype=0, lon=x, lat=y, tags=t) for i, x, y, t in nodes]
            + [dict(osmid=i, osmtype=1, refs=r, tags=t) for i, r, t in ways],
            f,
        )

    q = Query(nodes=True, ways=True, relations=False, keep={"amenity": [], "highway": []},
              geometry=True)

    def rows(osm):
        return sorted(
            tuple(r) for r in osm.query(q).select("osmid", "osmtype", "geom_type", "geometry").collect()
        )

    osm = OSM.from_pbf(spark, p)
    got = rows(osm)
    assert got == rows(OSM.from_tables(osm.elements, osm.nodes, osm.way_refs))
    # without inline refs an empty way has no way_refs rows; it still gets
    # refs [] and geom_type 0, as the PBF path gives it
    no_refs = OSM.from_tables(osm.elements.drop("refs"), osm.nodes, osm.way_refs)
    assert got == rows(no_refs)
    assert no_refs.query(q).filter(col("osmid") == 108).select("refs").first()[0] == []
    osm.to_bronze(str(tmp_path / "bronze"))
    assert got == rows(OSM.from_bronze(spark, str(tmp_path / "bronze")))
    from_xml = OSM.from_xml(spark, str(xml))
    assert got == rows(from_xml)
    geom = {(r[0], r[1]): r[3] for r in got}
    assert geom[(101, 0)] == "POINT (11.0000000 51.0000000)"
    assert geom[(101, 1)] == (
        "LINESTRING (10.0000000 50.0000000, 10.0010000 50.0000000, 10.0020000 50.0000000)"
    )
    assert geom[(5, 0)] == "POINT (10.0010000 50.0010000)"
    assert geom[(106, 1)].startswith("LINESTRING (10.0000000 50.0000000, 10.0020000 50.0000000")
    assert geom[(108, 1)] is None and geom[(110, 1)] is None
    # a way with a vertex missing from the extract keeps its row, refs and
    # geom_type; its geometry is null
    assert geom[(109, 1)] is None
    assert (111, 1) not in geom
    # the PBF rows keep refs, rebuilt in order from the gathered pairs
    refs = {r.osmid: r.refs for r in osm.query(q).filter(col("osmtype") == 1).collect()}
    assert refs == {101: [1, 2, 3], 106: [1, 3, 9, 7, 1], 108: [], 109: [1, 999], 110: [5]}
    assert {(r[0], r[1]): r[2] for r in got}[(109, 1)] == 2
    # wkb=True encodes the same geometries, null where the WKT is null
    wkb = {
        (r.osmid, r.osmtype): r
        for r in osm.query(q, wkb=True).select(
            "osmid", "osmtype", "geometry", "geometry_wkb"
        ).collect()
    }
    assert {k: r.geometry for k, r in wkb.items()} == geom
    assert all((r.geometry is None) == (r.geometry_wkb is None) for r in wkb.values())
    assert wkb[(109, 1)].geometry_wkb is None
    assert bytes(wkb[(101, 1)].geometry_wkb)[:9] == b"\x01\x02\x00\x00\x00\x03\x00\x00\x00"
    # the XML backing encodes the same geometries (its coordinates are
    # the 7-decimal text, the PBF's the 1e-7 grid: equal once re-printed)
    xml_wkb = {
        (r.osmid, r.osmtype): r.geometry_wkb and wkb_as_wkt(bytes(r.geometry_wkb))
        for r in from_xml.query(q, wkb=True).select("osmid", "osmtype", "geometry_wkb").collect()
    }
    assert xml_wkb == geom


def test_relation_geometry_null_on_missing_vertex(spark, tmp_path):
    """A relation whose ring (or route chain) references a node the
    extract does not hold keeps its row with geometry null, as a way with
    a missing vertex does; ``wkb=True`` encodes null instead of raising.
    A complete relation in the same extract still renders."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    p = str(tmp_path / "clipped.osm.pbf")
    w = PbfWriter()
    w.add_dense_nodes([
        (1, 10.0, 50.0, {}), (2, 10.1, 50.0, {}), (3, 10.1, 50.1, {}),
        (4, 11.0, 51.0, {}), (5, 11.1, 51.0, {}), (6, 11.1, 51.1, {}),
    ])
    w.add_way(11, [1, 2, 3, 999, 1], {})
    w.add_way(12, [4, 5, 6, 4], {})
    w.add_way(13, [1, 2, 999], {})
    w.add_relation(21, [(11, 1, "outer")], {"type": "multipolygon", "landuse": "park"})
    w.add_relation(22, [(12, 1, "outer")], {"type": "multipolygon", "landuse": "park"})
    w.add_relation(23, [(13, 1, "")], {"type": "route", "route": "bus"})
    w.write(p)

    osm = OSM.from_pbf(spark, p)
    q = Query(nodes=False, ways=False, relations=True, geometry=True)
    got = {r.osmid: r for r in osm.query(q, wkb=True).collect()}
    assert set(got) == {21, 22, 23}
    assert got[21].geometry is None and got[21].geometry_wkb is None
    assert got[23].geometry is None and got[23].geometry_wkb is None
    assert got[22].geometry == (
        "POLYGON ((11.0000000 51.0000000, 11.1000000 51.0000000, "
        "11.1000000 51.1000000, 11.0000000 51.0000000))"
    )
    assert bytes(got[22].geometry_wkb)[:5] == b"\x01\x03\x00\x00\x00"
    plain = {r.osmid: r.geometry for r in osm.query(q).collect()}
    assert plain == {k: r.geometry for k, r in got.items()}
