"""OSM XML / osmChange data source (sources/xml.py): parse semantics,
compression, PBF row parity via write-read round-trip, the .osc action
column, and the changefile -> CDC-apply composition."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from osmdatapy_spark.sources.xml import iter_osm_xml, read_osm_xml, write_osm_xml

OSM_DOC = """<?xml version='1.0' encoding='UTF-8'?>
<osm version="0.6" generator="test">
  <node id="1" lat="50.0" lon="10.0" version="3" timestamp="2013-09-05T22:15:24Z" changeset="77"/>
  <node id="2" lat="50.001" lon="10.0">
    <tag k="amenity" v="cafe"/>
    <tag k="name" v="O&#39;Brien &amp; Sons"/>
  </node>
  <way id="101" version="2">
    <nd ref="1"/>
    <nd ref="2"/>
    <tag k="highway" v="primary"/>
  </way>
  <relation id="201">
    <member type="way" ref="101" role="outer"/>
    <member type="node" ref="1" role=""/>
    <tag k="type" v="multipolygon"/>
  </relation>
</osm>
"""

OSC_DOC = """<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <create>
    <node id="10" lat="51.0" lon="11.0"/>
  </create>
  <modify>
    <node id="1" lat="50.5" lon="10.5" version="4">
      <tag k="fixme" v="moved"/>
    </node>
    <way id="101">
      <nd ref="1"/>
      <nd ref="10"/>
    </way>
  </modify>
  <delete>
    <node id="2"/>
  </delete>
</osmChange>
"""


def test_iter_osm_xml_semantics(tmp_path):
    p = tmp_path / "a.osm"
    p.write_text(OSM_DOC)
    rows = list(iter_osm_xml(str(p)))
    assert [r["osmid"] for _, r in rows] == [1, 2, 101, 201]
    assert all(a == "" for a, _ in rows)
    n1 = rows[0][1]
    assert n1["lat"] == 50.0 and n1["lon"] == 10.0
    assert n1["version"] == 3 and n1["changeset"] == 77
    # epoch SECONDS — the PBF decoder's unit (pbf_codec: ts*date_gran//1000
    # with date_granularity in ms).  Millis here would skew PBF+osc CDC
    # pipelines by 1000x (the round-5 defect).
    assert n1["timestamp"] == 1378419324  # 2013-09-05T22:15:24Z
    assert rows[1][1]["tags"] == {"amenity": "cafe", "name": "O'Brien & Sons"}
    way = rows[2][1]
    assert way["refs"] == [1, 2] and way["tags"] == {"highway": "primary"}
    rel = rows[3][1]
    assert rel["members"] == [(101, 1, "outer"), (1, 0, "")]


def test_spark_read_osm_and_gz(spark, tmp_path):
    (tmp_path / "a.osm").write_text(OSM_DOC)
    with gzip.open(tmp_path / "b.osm.gz", "wt") as f:
        f.write(OSM_DOC)
    plain = read_osm_xml(spark, str(tmp_path / "a.osm"))
    assert plain.count() == 4
    assert plain.columns[0:3] == ["osmid", "osmtype", "tags"]
    # directory read: one partition per file, rows from both
    both = read_osm_xml(spark, str(tmp_path))
    assert both.count() == 8
    assert both.rdd.getNumPartitions() == 2
    got = {r["osmid"]: r for r in plain.collect()}
    assert got[101]["refs"] == [1, 2]
    assert [tuple(m) for m in got[201]["members"]] == [(101, 1, "outer"), (1, 0, "")]
    assert dict(got[2]["tags"]) == {"amenity": "cafe", "name": "O'Brien & Sons"}


def test_osc_actions_column(spark, tmp_path):
    (tmp_path / "diff.osc").write_text(OSC_DOC)
    df = read_osm_xml(spark, str(tmp_path / "diff.osc"), osc=True)
    rows = {(r["osmid"], r["osmtype"]): r for r in df.collect()}
    assert rows[(10, 0)]["action"] == "create"
    assert rows[(1, 0)]["action"] == "modify" and dict(rows[(1, 0)]["tags"]) == {"fixme": "moved"}
    assert rows[(101, 1)]["action"] == "modify" and rows[(101, 1)]["refs"] == [1, 10]
    assert rows[(2, 0)]["action"] == "delete"


def test_xml_roundtrip_matches_pbf_rows(spark, tmp_path, fixture_pbf):
    """PBF fixture -> XML text -> osmxml scan must reproduce the PBF
    scan's rows exactly (the two sources share one row contract)."""
    import io

    from osmdatapy_spark.sources.pbf import read_pbf

    pbf_rows = read_pbf(spark, fixture_pbf).collect()
    buf = io.StringIO()
    write_osm_xml(
        (
            {
                "osmid": r["osmid"],
                "osmtype": r["osmtype"],
                "tags": dict(r["tags"]),
                "lon": r["lon"],
                "lat": r["lat"],
                "refs": list(r["refs"]) if r["refs"] is not None else None,
                "members": [tuple(m) for m in r["members"]] if r["members"] is not None else None,
                "version": r["version"],
                "timestamp": r["timestamp"],
                "changeset": r["changeset"],
            }
            for r in pbf_rows
        ),
        buf,
    )
    (tmp_path / "grid.osm").write_text(buf.getvalue())
    xml_rows = read_osm_xml(spark, str(tmp_path / "grid.osm")).collect()

    def key(r):
        return (r["osmtype"], r["osmid"])

    def canon(r):
        return (
            r["osmid"], r["osmtype"], dict(r["tags"]),
            round(r["lon"], 7) if r["lon"] is not None else None,
            round(r["lat"], 7) if r["lat"] is not None else None,
            list(r["refs"]) if r["refs"] is not None else None,
            [tuple(m) for m in r["members"]] if r["members"] is not None else None,
            # cross-source unit parity: both sources must yield epoch
            # SECONDS, equal for the same element (round-5 1000x defect)
            r["timestamp"],
        )
    assert sorted(map(canon, xml_rows), key=lambda t: (t[1], t[0])) == sorted(
        map(canon, pbf_rows), key=lambda t: (t[1], t[0])
    )


def test_osc_feeds_cdc_apply(spark, tmp_path):
    """Changefile composition: base snapshot + .osc actions -> upserted
    snapshot via the keep-latest election (the osm_apply_changes /
    stream_upsert_latest discipline)."""
    (tmp_path / "a.osm").write_text(OSM_DOC)
    (tmp_path / "diff.osc").write_text(OSC_DOC)
    base = read_osm_xml(spark, str(tmp_path / "a.osm")).withColumn("seq", F.lit(0))
    chg = read_osm_xml(spark, str(tmp_path / "diff.osc"), osc=True).withColumn("seq", F.lit(1))
    allrows = base.withColumn("action", F.lit("base")).unionByName(chg)
    from pyspark.sql import Window

    w = Window.partitionBy("osmtype", "osmid").orderBy(col("seq").desc())
    latest = (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(col("_rn") == 1)
        .filter(col("action") != "delete")
    )
    got = {(r["osmtype"], r["osmid"]): r for r in latest.collect()}
    assert (0, 2) not in got  # deleted
    assert got[(0, 10)]["action"] == "create"
    assert got[(0, 1)]["lat"] == 50.5  # modified wins over base
    assert got[(1, 101)]["refs"] == [1, 10]
    assert (2, 201) in got  # untouched base row survives


def test_missing_path_raises(spark, tmp_path):
    with pytest.raises(Exception):
        read_osm_xml(spark, str(tmp_path / "nope")).count()


def test_geoparquet_sink_roundtrip(spark, tmp_path, fixture_pbf):
    """Query(wkb=True) output -> GeoParquet dataset: footer carries the
    spec's 'geo' metadata, geometry bytes survive, Spark re-reads the
    files, and DuckDB's parquet reader sees the same rows."""
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query
    from osmdatapy_spark.sinks import read_geoparquet_meta, write_geoparquet

    osm = OSM.from_pbf(spark, fixture_pbf)
    out = osm.query(Query(nodes=True, ways=False, relations=False, geometry=True), wkb=True)
    cols = ["osmid"] + (["lon", "lat"] if "lon" in out.columns else []) + ["geometry_wkb"]
    sel = out.select(*cols).filter(col("geometry_wkb").isNotNull())
    dest = str(tmp_path / "geo.parquet")
    write_geoparquet(sel, dest, geometry_col="geometry_wkb")
    meta = read_geoparquet_meta(dest)
    assert meta["primary_column"] == "geometry_wkb"
    assert meta["columns"]["geometry_wkb"]["encoding"] == "WKB"
    assert meta["columns"]["geometry_wkb"]["crs"] == "EPSG:4326"
    back = spark.read.parquet(dest)
    assert back.count() == sel.count()
    # byte-identical geometry round trip
    a = sorted((r["osmid"], bytes(r["geometry_wkb"])) for r in sel.collect())
    b = sorted((r["osmid"], bytes(r["geometry_wkb"])) for r in back.collect())
    assert a == b
    # cross-engine: DuckDB reads the same rows
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{dest}/*.parquet')"
    ).fetchone()[0]
    assert n == len(a)


def test_osm_facade_from_xml(spark, tmp_path, fixture_pbf):
    """OSM.from_xml runs the SAME engine query pipeline as from_pbf on the
    XML serialization of the grid fixture — identical query results."""
    import io

    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query
    from osmdatapy_spark.sources.pbf import read_pbf

    buf = io.StringIO()
    write_osm_xml(
        (
            {
                "osmid": r["osmid"], "osmtype": r["osmtype"], "tags": dict(r["tags"]),
                "lon": r["lon"], "lat": r["lat"],
                "refs": list(r["refs"]) if r["refs"] is not None else None,
                "members": [tuple(m) for m in r["members"]] if r["members"] is not None else None,
                "version": r["version"], "changeset": r["changeset"],
            }
            for r in read_pbf(spark, fixture_pbf).collect()
        ),
        buf,
    )
    (tmp_path / "grid.osm").write_text(buf.getvalue())

    q = Query(ways=True, nodes=False, relations=False, keep={"highway": []}, geometry=True)
    from_xml = {
        r["osmid"]: r["geometry"] for r in OSM.from_xml(spark, str(tmp_path / "grid.osm")).query(q).collect()
    }
    from_pbf_rows = {
        r["osmid"]: r["geometry"] for r in OSM.from_pbf(spark, fixture_pbf).query(q).collect()
    }
    assert from_xml == from_pbf_rows and len(from_xml) >= 3


def test_xml_roundtrip_fuzz_unicode_tags(spark, tmp_path):
    """Property fuzz: adversarial ids/coords/unicode tags/refs/members
    survive write_osm_xml -> osmxml scan byte-exactly (the XML entity
    escaping + attribute quoting path)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # XML 1.0 forbids most control chars; OSM tag text in the wild is
    # printable unicode — generate exactly that class
    text = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc", "Co"), min_codepoint=32
        ),
        min_size=0,
        max_size=24,
    )
    elements = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**48),                      # osmid
            st.sampled_from([0, 1, 2]),                                     # osmtype
            st.dictionaries(text.filter(lambda s: s.strip() != ""), text, max_size=4),
            st.lists(st.integers(min_value=1, max_value=2**48), max_size=5),  # refs
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: (t[1], t[0]),
    )

    from osmdatapy_spark.sources.xml import iter_osm_xml, write_osm_xml

    @settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(elements)
    def run(els):
        rows = []
        for osmid, t, tags, refs in els:
            rows.append({
                "osmid": osmid, "osmtype": t, "tags": tags,
                "lon": (osmid % 360) - 180 + 0.5 if t == 0 else None,
                "lat": (osmid % 170) - 85 + 0.25 if t == 0 else None,
                "refs": refs if t == 1 else None,
                "members": [(r, 0, "role") for r in refs] if t == 2 else None,
                "version": None, "changeset": None,
            })
        p = tmp_path / "fuzz.osm"
        with open(p, "w", encoding="utf-8") as f:
            write_osm_xml(iter(rows), f)
        got = [r for _, r in iter_osm_xml(str(p))]
        assert len(got) == len(rows)
        for want, have in zip(rows, got):
            assert have["osmid"] == want["osmid"] and have["osmtype"] == want["osmtype"]
            assert have["tags"] == want["tags"], (want["tags"], have["tags"])
            assert (have["refs"] or None) == (want["refs"] if want["osmtype"] == 1 else None) or (
                want["osmtype"] == 1 and want["refs"] == [] and have["refs"] == []
            )
            if want["osmtype"] == 2:
                assert have["members"] == want["members"]

    run()


def test_geoparquet_mode_contract(spark, tmp_path):
    """Unsupported modes raise (round-5 defect: anything non-overwrite
    silently appended under fixed part-file names — a second write with a
    different partition count produced a corrupt mixed dataset), and
    error/errorifexists refuses to clobber an existing dataset."""
    import pytest as _pytest

    from osmdatapy_spark.sinks import write_geoparquet

    df = spark.createDataFrame(
        [(1, 10.0, 50.0, bytearray(b"\x01"))],
        "osmid long, lon double, lat double, geometry_wkb binary",
    )
    dest = str(tmp_path / "geo.parquet")
    with _pytest.raises(ValueError, match="append"):
        write_geoparquet(df, dest, mode="append")
    write_geoparquet(df, dest, mode="error")          # fresh dir: fine
    with _pytest.raises(FileExistsError):
        write_geoparquet(df, dest, mode="errorifexists")
    write_geoparquet(df, dest, mode="overwrite")      # replace: fine
    assert spark.read.parquet(dest).count() == 1


def test_xml_source_pruning_options(spark, tmp_path):
    """osmtypes/columns read options — PBF-source contract parity (the
    Python DataSource API has no pruning pushdown, so the options are
    where kind- and field-pruning become real)."""
    (tmp_path / "a.osm").write_text(OSM_DOC)
    p = str(tmp_path / "a.osm")

    # kind pruning: ways only
    ways = read_osm_xml(spark, p, osmtypes={1}).collect()
    assert [r["osmid"] for r in ways] == [101]

    # column pruning: schema shrinks, parse skips dropped fields
    df = read_osm_xml(spark, p, osmtypes={0}, columns=["osmid", "lon", "lat"])
    assert df.columns == ["osmid", "lon", "lat"]
    got = {r["osmid"]: (r["lon"], r["lat"]) for r in df.collect()}
    assert got == {1: (10.0, 50.0), 2: (10.0, 50.001)}

    # the iterator itself skips the un-requested parse work (tags stay
    # empty even though the XML carries them)
    rows = [r for _, r in iter_osm_xml(p, columns=["osmid", "osmtype"])]
    assert all(r["tags"] == {} and r["refs"] is None and r["members"] is None for r in rows)
    assert [r["osmid"] for r in rows] == [1, 2, 101, 201]

    # pruning composes with .osc (action survives unless dropped)
    (tmp_path / "d.osc").write_text(OSC_DOC)
    osc = read_osm_xml(spark, str(tmp_path / "d.osc"), osc=True,
                       osmtypes={0}, columns=["osmid", "action"])
    assert osc.columns == ["osmid", "action"]
    acts = {r["osmid"]: r["action"] for r in osc.collect()}
    assert acts == {10: "create", 1: "modify", 2: "delete"}


def test_osc_sequence_apply(spark, tmp_path):
    """Replication workflow: a SEQUENCE of .osc diffs applies in order —
    later modifications win, a delete followed by a recreate resurrects
    the element, and the keep-latest election is per (osmtype, osmid)."""
    (tmp_path / "a.osm").write_text(OSM_DOC)
    (tmp_path / "d1.osc").write_text(
        """<?xml version='1.0'?><osmChange version="0.6">
        <modify><node id="1" lat="50.1" lon="10.1"/></modify>
        <delete><node id="2"/></delete>
        </osmChange>"""
    )
    (tmp_path / "d2.osc").write_text(
        """<?xml version='1.0'?><osmChange version="0.6">
        <modify><node id="1" lat="50.2" lon="10.2"/></modify>
        <create><node id="2" lat="99.0" lon="9.0"/></create>
        </osmChange>"""
    )
    base = read_osm_xml(spark, str(tmp_path / "a.osm")).withColumn(
        "seq", F.lit(0)
    ).withColumn("action", F.lit("base"))
    parts = [base]
    for i, name in enumerate(("d1.osc", "d2.osc"), start=1):
        parts.append(
            read_osm_xml(spark, str(tmp_path / name), osc=True).withColumn("seq", F.lit(i))
        )
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    from pyspark.sql import Window

    w = Window.partitionBy("osmtype", "osmid").orderBy(col("seq").desc())
    latest = (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(col("_rn") == 1)
        .filter(col("action") != "delete")
    )
    got = {(r["osmtype"], r["osmid"]): r for r in latest.collect()}
    assert got[(0, 1)]["lat"] == 50.2  # LAST diff wins over both earlier states
    assert got[(0, 2)]["lat"] == 99.0  # delete-then-recreate resurrects
    assert (1, 101) in got and (2, 201) in got  # untouched rows survive


def test_write_osm_osc_roundtrip(spark, tmp_path):
    """write_osm_osc → read_osm_xml(osc=True) round-trips actions,
    wrapper grouping (consecutive same-action rows share one block), and
    the 7-decimal coordinate text encoding."""
    from osmdatapy_spark.sources.xml import write_osm_osc

    def node(osmid, lon=None, lat=None, version=None):
        return {"osmid": osmid, "osmtype": 0, "tags": {}, "lon": lon,
                "lat": lat, "refs": None, "members": None,
                "version": version, "changeset": None}

    rows = [
        ("create", node(10, 1.25, -2.5, 1)),
        ("create", node(11, 3.0000001, 4.0, 1)),
        ("modify", node(20, 5.0, 6.0, 7)),
        ("delete", node(30, version=2)),
        ("create", node(12, 7.0, 8.0, 1)),  # re-opens a create block
    ]
    p = tmp_path / "t.osc"
    with open(p, "w") as f:
        write_osm_osc(iter(rows), f)
    text = p.read_text()
    assert text.count("<create>") == 2 and text.count("<modify>") == 1
    assert text.startswith("<?xml") and "<osmChange" in text

    got = {
        r["osmid"]: r
        for r in read_osm_xml(spark, str(p), osc=True).collect()
    }
    assert set(got) == {10, 11, 12, 20, 30}
    assert got[10]["action"] == "create" and got[10]["lon"] == 1.25
    assert got[11]["lon"] == 3.0000001  # 7-decimal text encoding survives
    assert got[20]["action"] == "modify" and got[20]["version"] == 7
    assert got[30]["action"] == "delete" and got[30]["lon"] is None


def test_write_osm_osc_rejects_bad_action(tmp_path):
    import io

    import pytest as _pytest

    from osmdatapy_spark.sources.xml import write_osm_osc

    with _pytest.raises(ValueError):
        write_osm_osc(
            iter([("upsert", {"osmid": 1, "osmtype": 0, "tags": {}})]), io.StringIO()
        )


@pytest.mark.parametrize("fmt", ["osmxml", "osmpbf"])
def test_stream_offset_logic_is_basename_keyed(tmp_path, fmt):
    """Driver-side watcher offset properties both stream sources share
    (sources/_watch.py), no Spark needed: files sort and select the end
    offset by BASENAME (a glob spanning directories must not re-emit),
    read/readBetweenOffsets agree on any (start, end] window, duplicate
    basenames are rejected loudly, and so is a negative
    maxFilesPerTrigger."""
    import os

    from osmdatapy_spark.sources.pbf import OsmPbfSimpleStreamReader, PBF_SCHEMA
    from osmdatapy_spark.sources.pbf_codec import PbfWriter
    from osmdatapy_spark.sources.xml import OSC_SCHEMA, OsmXmlSimpleStreamReader, write_osm_osc

    def write(path, nid):
        if fmt == "osmxml":
            node = {"osmid": nid, "osmtype": 0, "tags": {}, "lon": 1.0, "lat": 2.0}
            with open(path, "w") as f:
                write_osm_osc(iter([("create", node)]), f)
        else:
            w = PbfWriter()
            w.add_dense_nodes([(nid, 1.0, 2.0, {})])
            w.write(str(path))

    suffix, reader, schema = (
        (".osc", OsmXmlSimpleStreamReader, OSC_SCHEMA)
        if fmt == "osmxml"
        else (".osm.pbf", OsmPbfSimpleStreamReader, PBF_SCHEMA)
    )
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir(), b.mkdir()
    # basename order (000001 < 000002 < 000003) crosses directory order
    for d, nid in ((b, 1), (a, 2), (b, 3)):
        write(d / f"00000{nid}{suffix}", nid)

    glob = str(tmp_path / "*" / f"*{suffix}")
    r = reader(schema, {"path": glob})
    assert [os.path.basename(f) for f in r._all_files()] == [
        f"00000{i}{suffix}" for i in (1, 2, 3)
    ]
    rows, end = r.read({"last": ""})
    assert end == {"last": f"000003{suffix}"}
    assert [t[0] for t in rows] == [1, 2, 3]  # osmid is field 0 of the schema
    # a second read from the recorded end emits nothing (no re-reads)
    rows2, end2 = r.read(end)
    assert rows2 == [] and end2 == end
    # replay any window deterministically
    assert r.readBetweenOffsets({"last": f"000001{suffix}"}, end) == rows[1:]

    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        reader(schema, {"path": glob, "maxFilesPerTrigger": "-1"})

    # duplicate basenames across directories are ambiguous — loud error
    (a / f"000001{suffix}").write_bytes((b / f"000001{suffix}").read_bytes())
    with pytest.raises(ValueError, match="duplicate basenames"):
        r._all_files()
