from __future__ import annotations

import struct
import sys
from collections import namedtuple
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from osmdatapy_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmdatapy-spark-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


ROW_FIELDS = (
    "osmid", "osmtype", "tags", "lon", "lat", "refs", "members",
    "version", "timestamp", "changeset",
)
DecodedRow = namedtuple("DecodedRow", ROW_FIELDS)


def element(osmtype, osmid, tags, lon=None, lat=None, refs=None, members=None, meta=(None,) * 3) -> dict:
    """One element as a unified-schema dict row; ``meta`` is
    ``(version, timestamp, changeset)``."""
    return dict(zip(ROW_FIELDS, (osmid, osmtype, tags, lon, lat, refs, members, *meta)))


@pytest.fixture(scope="session")
def fixture_elements() -> list[dict]:
    """The elements of ``fixture_pbf``, as unified-schema dict rows in the
    order the writer is given them."""
    nodes = [
        element(0, 3 * r + c + 1, {"amenity": "cafe"} if 3 * r + c + 1 == 5 else {},
                lon=10.0 + c * 0.001, lat=50.0 + r * 0.001)
        for r in range(3)
        for c in range(3)
    ]
    return nodes + [
        element(1, 101, {"highway": "primary", "name": "south"}, refs=[1, 2, 3]),
        element(1, 102, {"highway": "secondary"}, refs=[3, 6, 9]),
        element(1, 103, {}, refs=[9, 8, 7]),
        element(1, 104, {}, refs=[7, 4, 1]),
        element(1, 105, {"highway": "path"}, refs=[2, 5, 8]),
        element(1, 106, {"building": "yes"}, refs=[1, 3, 9, 7, 1]),
        element(
            2, 201, {"type": "multipolygon", "landuse": "park"},
            members=[(101, 1, "outer"), (102, 1, "outer"), (103, 1, "outer"), (104, 1, "outer")],
        ),
        element(2, 202, {"type": "route", "route": "bus"}, members=[(101, 1, ""), (105, 1, "")]),
        # holed multipolygon: outer = closed square 106, inner = diamond 107
        element(1, 107, {}, refs=[2, 6, 8, 4, 2]),
        element(
            2, 203, {"type": "multipolygon", "natural": "water"},
            members=[(106, 1, "outer"), (107, 1, "inner")],
        ),
    ]


@pytest.fixture(scope="session")
def fixture_pbf(tmp_path_factory, fixture_elements):
    """Deterministic small .osm.pbf: a 3×3 node grid, ways over it, one
    multipolygon relation with a reversed member way, one route relation.

    Layout (node ids):       7 8 9
                             4 5 6
                             1 2 3
    ways: 101 = 1-2-3 (highway), 102 = 3-6-9 (highway), 103 = 9-8-7,
          104 = 7-4-1, 105 = 2-5-8 (crosses at 2,5,8 — shares 2 with 101
          and 8 with 103), 106 = closed square 1-3-9-7-1 (building).
    rel 201 = multipolygon of 101+102+103+104 (103,104 stored so the ring
    chains with one reversal); rel 202 = route of 101,105; rel 203 = the
    square 106 holed by the diamond 107 = 2-6-8-4-2.

    The nodes are one DenseNodes group; every way and relation is a group
    of its own, three groups per block.
    """
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    path = str(tmp_path_factory.mktemp("pbf") / "grid.osm.pbf")
    w = PbfWriter()
    w.add_dense_nodes(
        [(e["osmid"], e["lon"], e["lat"], e["tags"]) for e in fixture_elements if e["osmtype"] == 0]
    )
    for e in fixture_elements:
        if e["osmtype"] == 1:
            w.add_way(e["osmid"], e["refs"], e["tags"])
        elif e["osmtype"] == 2:
            w.add_relation(e["osmid"], e["members"], e["tags"])
    w.write(path, groups_per_block=3)  # >1 block exercises partition planning
    return path


@pytest.fixture(scope="session")
def fixture_osm_xml(fixture_elements, tmp_path_factory):
    """The ``fixture_pbf`` elements as ``.osm`` XML, written from the
    writer's element list (no PBF decode involved), for tests of the
    contract both data sources share."""
    from osmdatapy_spark.sources.xml import write_osm_xml

    path = tmp_path_factory.mktemp("xml") / "grid.osm"
    with open(path, "w") as f:
        write_osm_xml(iter(fixture_elements), f)
    return str(path)


def segment_rows(segments) -> list[DecodedRow]:
    """``decode_block_segments`` output flattened to one ``DecodedRow`` per
    element, in segment order, with plain Python values (metadata ``None``
    where a segment carries none)."""
    from osmdatapy_spark.sources.pbf_codec import DenseColumns, RelationColumns, WayColumns

    rows = []
    for seg in segments:
        for i in range(seg.n):
            lo, hi = seg.tag_offsets[i], seg.tag_offsets[i + 1]
            tags = dict(zip(seg.tag_keys[lo:hi], seg.tag_vals[lo:hi]))
            meta = [
                int(c[i]) if c is not None and len(c) and c[i] is not None else None
                for c in (seg.versions, seg.timestamps, seg.changesets)
            ]
            if isinstance(seg, DenseColumns):
                rows.append(DecodedRow(
                    int(seg.ids[i]), 0, tags, float(seg.lons[i]), float(seg.lats[i]),
                    None, None, *meta,
                ))
            elif isinstance(seg, WayColumns):
                rlo, rhi = seg.ref_offsets[i], seg.ref_offsets[i + 1]
                rows.append(DecodedRow(seg.ids[i], 1, tags, None, None, seg.refs[rlo:rhi], None, *meta))
            elif isinstance(seg, RelationColumns):
                mlo, mhi = seg.mem_offsets[i], seg.mem_offsets[i + 1]
                members = list(zip(seg.mem_refs[mlo:mhi], seg.mem_types[mlo:mhi], seg.mem_roles[mlo:mhi]))
                rows.append(DecodedRow(seg.ids[i], 2, tags, None, None, None, members, *meta))
            else:
                raise TypeError(f"unexpected segment {type(seg).__name__}")
    return rows


def block_rows(block: bytes, with_metadata: bool = False) -> list[DecodedRow]:
    """Every element of one PrimitiveBlock as ``DecodedRow``s."""
    from osmdatapy_spark.sources.pbf_codec import decode_block_segments

    return segment_rows(decode_block_segments(block, with_metadata=with_metadata))


def pbf_rows(path: str, with_metadata: bool = False) -> list[DecodedRow]:
    """Every element of a .pbf file as ``DecodedRow``s, in file order."""
    from osmdatapy_spark.sources.pbf_codec import read_blob, scan_blob_spans

    return [
        r
        for s in scan_blob_spans(path)
        if s.blob_type == "OSMData"
        for r in block_rows(read_blob(path, s), with_metadata)
    ]


def wkb_as_wkt(buf: bytes) -> str:
    """Test-side WKB reader: ISO little-endian WKB → the engine's WKT
    dialect, every coordinate re-printed with ``%.7f``."""

    def seq(off):
        (n,) = struct.unpack_from("<I", buf, off)
        pts = [struct.unpack_from("<2d", buf, off + 4 + 16 * i) for i in range(n)]
        return "(" + ", ".join("%.7f %.7f" % p for p in pts) + ")", off + 4 + 16 * n

    def geom(off):
        assert buf[off] == 1
        (gtype,) = struct.unpack_from("<I", buf, off + 1)
        off += 5
        if gtype == 1:
            return "POINT", "(%.7f %.7f)" % struct.unpack_from("<2d", buf, off), off + 16
        if gtype == 2:
            return ("LINESTRING", *seq(off))
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        bodies = []
        for _ in range(n):
            if gtype == 3:
                body, off = seq(off)
            else:
                _, body, off = geom(off)
            bodies.append(body)
        name = {3: "POLYGON", 5: "MULTILINESTRING", 6: "MULTIPOLYGON"}[gtype]
        return name, "(" + ", ".join(bodies) + ")", off

    name, body, end = geom(0)
    assert end == len(buf)
    return f"{name} {body}"
