from __future__ import annotations

import sys
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


@pytest.fixture(scope="session")
def fixture_pbf(tmp_path_factory):
    """Deterministic small .osm.pbf: a 3×3 node grid, ways over it, one
    multipolygon relation with a reversed member way, one route relation.

    Layout (node ids):       7 8 9
                             4 5 6
                             1 2 3
    ways: 101 = 1-2-3 (highway), 102 = 3-6-9 (highway), 103 = 9-8-7,
          104 = 7-4-1, 105 = 2-5-8 (crosses at 2,5,8 — shares 2 with 101
          and 8 with 103), 106 = closed square 1-3-9-7-1 (building).
    rel 201 = multipolygon of 101+102+103+104 (103,104 stored so the ring
    chains with one reversal); rel 202 = route of 101,105.
    """
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    path = str(tmp_path_factory.mktemp("pbf") / "grid.osm.pbf")
    w = PbfWriter()
    nodes = []
    nid = 0
    for r in range(3):
        for c in range(3):
            nid += 1
            tags = {"amenity": "cafe"} if nid == 5 else {}
            nodes.append((nid, 10.0 + c * 0.001, 50.0 + r * 0.001, tags))
    w.add_dense_nodes(nodes)
    w.add_way(101, [1, 2, 3], {"highway": "primary", "name": "south"})
    w.add_way(102, [3, 6, 9], {"highway": "secondary"})
    w.add_way(103, [9, 8, 7], {})
    w.add_way(104, [7, 4, 1], {})
    w.add_way(105, [2, 5, 8], {"highway": "path"})
    w.add_way(106, [1, 3, 9, 7, 1], {"building": "yes"})
    w.add_relation(
        201,
        [(101, 1, "outer"), (102, 1, "outer"), (103, 1, "outer"), (104, 1, "outer")],
        {"type": "multipolygon", "landuse": "park"},
    )
    w.add_relation(202, [(101, 1, ""), (105, 1, "")], {"type": "route", "route": "bus"})
    # holed multipolygon: outer = closed square 106, inner = diamond 107
    w.add_way(107, [2, 6, 8, 4, 2], {})
    w.add_relation(
        203,
        [(106, 1, "outer"), (107, 1, "inner")],
        {"type": "multipolygon", "natural": "water"},
    )
    w.write(path, groups_per_block=3)  # >1 block exercises partition planning
    return path


@pytest.fixture(scope="session")
def fixture_osm_xml(fixture_pbf, tmp_path_factory):
    """The ``fixture_pbf`` elements as ``.osm`` XML, for tests of the
    contract both data sources share."""
    from dataclasses import asdict

    from osmdatapy_spark.sources.pbf_codec import decode_primitive_block, read_blob, scan_blob_spans
    from osmdatapy_spark.sources.xml import write_osm_xml

    path = tmp_path_factory.mktemp("xml") / "grid.osm"
    spans = [s for s in scan_blob_spans(fixture_pbf) if s.blob_type == "OSMData"]
    with open(path, "w") as f:
        write_osm_xml(
            (asdict(e) for s in spans for e in decode_primitive_block(read_blob(fixture_pbf, s))),
            f,
        )
    return str(path)
