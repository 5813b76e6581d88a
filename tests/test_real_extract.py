"""Real-world PBF validation (round-2 VERDICT ask #5): decode one tiny
Geofabrik extract end-to-end and assert structural invariants — the last
gap between spec-correct (hand-built fixtures, cross-decode vs the
reference's Cython) and world-correct (files produced by osmium/planet
tooling, with real string tables, dense metadata, and block shapes).

Network-gated like the PIL tests: runs where the environment can reach
download.geofabrik.de, skips cleanly otherwise (the build container has
no network).  Reference anchor: the reference's only executable "test" is
its notebook's Marseille download (docs/notebooks/introduction.ipynb).
"""

from __future__ import annotations

import socket
import tempfile
import urllib.request
from pathlib import Path

import pytest

EXTRACT_URL = "https://download.geofabrik.de/europe/liechtenstein-latest.osm.pbf"
CACHE = Path(tempfile.gettempdir()) / "osmdatapy_test_liechtenstein.osm.pbf"


def _network_available() -> bool:
    try:
        socket.getaddrinfo("download.geofabrik.de", 443)
        return True
    except OSError:
        return False


pytestmark = pytest.mark.skipif(
    not _network_available(), reason="no network route to download.geofabrik.de"
)


@pytest.fixture(scope="module")
def extract_path() -> str:
    if not CACHE.exists():
        tmp = str(CACHE) + ".part"
        urllib.request.urlretrieve(EXTRACT_URL, tmp)  # noqa: S310
        Path(tmp).rename(CACHE)
    return str(CACHE)


def test_real_extract_invariants(spark, extract_path):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from osmdatapy_spark.engine import OSM

    osm = OSM.from_pbf(spark, extract_path)
    nodes, way_refs, rel_members = osm.nodes, osm.way_refs, osm.rel_members
    elements = osm.elements

    # node count > 0 and within a sane envelope for a country extract
    n_nodes = nodes.count()
    assert n_nodes > 100_000, n_nodes

    # bbox sane: Liechtenstein sits near (9.5E, 47.1N)
    bb = nodes.agg(
        F.min("lon").alias("lo"), F.max("lon").alias("hi"),
        F.min("lat").alias("la"), F.max("lat").alias("ha"),
    ).collect()[0]
    assert 8.0 < bb["lo"] and bb["hi"] < 11.0, bb
    assert 46.0 < bb["la"] and bb["ha"] < 48.5, bb

    # every way ref resolves to a decoded node (referential integrity)
    unresolved = (
        way_refs.select(col("node_id"))
        .distinct()
        .join(nodes.select(col("osmid").alias("node_id")), "node_id", "left_anti")
        .count()
    )
    assert unresolved == 0, f"{unresolved} dangling way refs"

    # tag keys are non-empty strings on every tagged element
    bad_keys = (
        elements.select(F.explode(F.map_keys(col("tags"))).alias("k"))
        .filter((col("k").isNull()) | (F.length("k") == 0))
        .count()
    )
    assert bad_keys == 0

    # all three element kinds present, relations have members
    kinds = {r["osmtype"] for r in elements.select("osmtype").distinct().collect()}
    assert kinds == {0, 1, 2}, kinds
    assert rel_members.count() > 0


def test_real_extract_query_roundtrip(spark, extract_path):
    """The notebook workflow: open, Query highways with geometry, expect
    plausible linestrings."""
    from pyspark.sql.functions import col

    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    osm = OSM.from_pbf(spark, extract_path)
    q = Query(ways=True, nodes=False, relations=False,
              keep={"highway": []}, geometry=True)
    out = osm.query(q)
    rows = out.filter(col("geometry").isNotNull()).limit(50).collect()
    assert len(rows) == 50
    assert all(r["geometry"].startswith("LINESTRING") for r in rows)
