"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  The program under test only ever sees the files written
here, never the seed.

- ``write_extract`` writes a synthetic ``.osm.pbf`` extract with the
  package's own ``PbfWriter`` and returns, per extract class, the exact
  rows an ``OSM.query`` must return.  Unlike ``bench.py``'s grid
  generator (identical tags on a regular grid, which zlib squeezes to
  ~0.3 bytes per element), coordinates are jittered and tags come from a
  varied vocabulary, so zlib inflation and varint decoding cost what they
  cost on a real extract.
- ``write_tables`` writes the ten parquet tables the registered suite
  queries read, with the schemas of the repository's synthetic star
  schema (TESTDATA.md).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

# Extract shape: 3 dense-node blobs + 1 way blob + 1 relation blob,
# 8000 elements per blob like tool-produced files.
EXTRACT_NODES = 24_000
EXTRACT_WAYS = 8_000
EXTRACT_RELATIONS = 400
ELEMENTS_PER_BLOB = 8_000
# amenity POIs live only in the first node blob, so the dictionary skip
# can prune the other two node blobs of the amenity class
AMENITY_BLOBS = 1

_NAMES = ["Main", "Oak", "Mill", "Church", "Station", "Park", "High", "Bridge",
          "Lake", "Hill", "River", "Market", "School", "Forest", "Castle"]
_SUFFIX = ["Street", "Road", "Lane", "Way", "Avenue", "Path", "Close"]
_HIGHWAY = ["residential", "primary", "secondary", "tertiary", "service",
            "track", "footway", "unclassified", "cycleway", "living_street"]
_SURFACE = ["asphalt", "paved", "gravel", "dirt", "concrete", "sett", "grass"]
_BUILDING = ["yes", "house", "residential", "garage", "apartments", "shed",
             "commercial", "retail", "school"]
_AMENITY = ["cafe", "bench", "school", "bank", "restaurant", "parking",
            "pharmacy", "post_box", "toilets", "fuel"]
_NODE_KEYS = ["natural", "barrier", "power", "crossing", "entrance"]
_NODE_VALS = ["tree", "gate", "tower", "zebra", "yes", "pole", "main"]
_LANDUSE = ["grass", "forest", "meadow", "farmland", "residential"]


def _coord(rng: random.Random, lo: float) -> int:
    """A coordinate in units of 1e-7 degrees (the PBF granularity), so the
    decoded value formats back to exactly these digits."""
    return round(lo * 1e7) + rng.randrange(0, 5_000_000)


def _fmt(c: int) -> str:
    return "%.7f" % (c / 1e7)


def write_extract(path: str, seed: int) -> dict[str, set[tuple[int, int, str]]]:
    """Write the extract to ``path``; return {class: expected rows}, each
    row an (osmid, osmtype, geometry WKT) triple."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    rng = random.Random(seed)
    lon = [0] * (EXTRACT_NODES + 1)
    lat = [0] * (EXTRACT_NODES + 1)
    nodes = []
    amenity: set[tuple[int, int, str]] = set()
    amenity_limit = AMENITY_BLOBS * ELEMENTS_PER_BLOB
    for i in range(1, EXTRACT_NODES + 1):
        lon[i], lat[i] = _coord(rng, 10.0), _coord(rng, 50.0)
        tags: dict[str, str] = {}
        r = rng.random()
        if i <= amenity_limit and r < 0.08:
            tags["amenity"] = rng.choice(_AMENITY)
            tags["name"] = f"{rng.choice(_NAMES)} {rng.randrange(400)}"
            amenity.add((i, 0, f"POINT ({_fmt(lon[i])} {_fmt(lat[i])})"))
        elif r < 0.15:
            tags[rng.choice(_NODE_KEYS)] = rng.choice(_NODE_VALS)
            if rng.random() < 0.3:
                tags["source"] = f"survey {rng.randrange(2000, 2024)}"
        nodes.append((i, lon[i] / 1e7, lat[i] / 1e7, tags))

    def linestring(refs: list[int]) -> str:
        return "LINESTRING (" + ", ".join(f"{_fmt(lon[n])} {_fmt(lat[n])}" for n in refs) + ")"

    ways = []
    highways: set[tuple[int, int, str]] = set()
    for w in range(1, EXTRACT_WAYS + 1):
        start = rng.randrange(1, EXTRACT_NODES - 64)
        r = rng.random()
        if r < 0.5:
            refs = [start]
            for _ in range(rng.randrange(1, 12)):
                refs.append(refs[-1] + rng.randrange(1, 5))
            tags = {"highway": rng.choice(_HIGHWAY),
                    "name": f"{rng.choice(_NAMES)} {rng.choice(_SUFFIX)}"}
            if rng.random() < 0.4:
                tags["surface"] = rng.choice(_SURFACE)
            if rng.random() < 0.2:
                tags["maxspeed"] = str(rng.choice([20, 30, 50, 70, 100]))
            highways.add((w, 1, linestring(refs)))
        elif r < 0.85:
            ring = [start + k for k in range(rng.randrange(4, 8))]
            refs = ring + [ring[0]]
            tags = {"building": rng.choice(_BUILDING)}
            if rng.random() < 0.5:
                tags["addr:housenumber"] = str(rng.randrange(1, 300))
                tags["addr:street"] = f"{rng.choice(_NAMES)} {rng.choice(_SUFFIX)}"
        else:
            refs = [start + k for k in range(rng.randrange(2, 9))]
            tags = {"landuse": rng.choice(_LANDUSE)} if rng.random() < 0.5 else {}
        ways.append((w, refs, tags))

    rels = []
    for r_id in range(1, EXTRACT_RELATIONS + 1):
        members = [(rng.randrange(1, EXTRACT_WAYS + 1), 1, "outer") for _ in range(rng.randrange(1, 4))]
        if rng.random() < 0.3:
            members.append((rng.randrange(1, EXTRACT_WAYS + 1), 1, "inner"))
        rels.append((r_id, members, {"type": "multipolygon", "landuse": rng.choice(_LANDUSE)}))

    w = PbfWriter(codec="zlib")
    for b in range(0, len(nodes), ELEMENTS_PER_BLOB):
        w.add_dense_nodes(nodes[b : b + ELEMENTS_PER_BLOB])
    for b in range(0, len(ways), ELEMENTS_PER_BLOB):
        w.add_ways(ways[b : b + ELEMENTS_PER_BLOB])
    w.add_relations(rels)
    tmp = path + ".tmp"
    w.write(tmp, groups_per_block=1)
    os.replace(tmp, path)
    return {"highway": highways, "amenity": amenity}


def extract_elements() -> int:
    return EXTRACT_NODES + EXTRACT_WAYS + EXTRACT_RELATIONS


# Suite tables: the TESTDATA.md star schema at about twice its sf0.001 size.
SUITE_ROWS = {
    "customer": 300, "supplier": 20, "part": 400, "orders": 3_000,
    "lineitem": 12_000, "events": 2_000, "documents": 600, "embeddings": 600,
}
EMBED_DIM = 64
_WORDS = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
          "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
          "order", "data", "column", "join", "small", "customer", "query", "big",
          "stream", "group", "filter", "vector"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["widget", "bolt", "rod", "ring", "anvil", "plate", "gear", "gizmo"]
_PART_TYPE = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["signup", "click", "error", "purchase", "view"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def write_tables(sf_dir: str, seed: int) -> None:
    """Write the ten parquet tables into ``sf_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n = SUITE_ROWS
    day0 = dt.datetime(1995, 1, 1)

    def money(lo: float, hi: float) -> float:
        return round(rng.uniform(lo, hi), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {"c_custkey": list(range(n["customer"])),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": pa.array([rng.randrange(25) for _ in range(n["customer"])], pa.int32()),
                     "c_acctbal": [money(-999, 9999) for _ in range(n["customer"])],
                     "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n["customer"])]},
        "supplier": {"s_suppkey": list(range(n["supplier"])),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": pa.array([rng.randrange(25) for _ in range(n["supplier"])], pa.int32()),
                     "s_acctbal": [money(-999, 9999) for _ in range(n["supplier"])]},
        "part": {"p_partkey": list(range(n["part"])),
                 "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n["part"])],
                 "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])],
                 "p_type": [rng.choice(_PART_TYPE) for _ in range(n["part"])],
                 "p_size": pa.array([rng.randrange(1, 51) for _ in range(n["part"])], pa.int32()),
                 "p_retailprice": [round(900 + (i % 200) * 0.1, 1) for i in range(n["part"])]},
        "orders": {"o_orderkey": list(range(n["orders"])),
                   "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
                   "o_orderstatus": [rng.choice("OFP") for _ in range(n["orders"])],
                   "o_totalprice": [money(1000, 500_000) for _ in range(n["orders"])],
                   "o_orderdate": pa.array([day0 + dt.timedelta(days=rng.randrange(2400))
                                            for _ in range(n["orders"])], pa.timestamp("us")),
                   "o_orderpriority": [rng.choice(_PRIORITY) for _ in range(n["orders"])]},
    }
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for _ in range(n["lineitem"]):
        qty = float(rng.randrange(1, 51))
        li["l_orderkey"].append(rng.randrange(n["orders"]))
        li["l_partkey"].append(rng.randrange(n["part"]))
        li["l_suppkey"].append(rng.randrange(n["supplier"]))
        li["l_linenumber"].append(rng.randrange(1, 8))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
        li["l_discount"].append(rng.randrange(0, 11) / 100)
        li["l_tax"].append(rng.randrange(0, 9) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(day0 + dt.timedelta(days=rng.randrange(2500)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    tables["lineitem"] = li
    ev0 = dt.datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 86_400 * 7) for _ in range(n["events"]))
    tables["events"] = {
        "event_id": list(range(n["events"])),
        "ts": pa.array([ev0 + dt.timedelta(seconds=round(s, 6)) for s in secs], pa.timestamp("us")),
        "user_id": [rng.randrange(50) for _ in range(n["events"])],
        "event_type": [rng.choice(_EVENTS) for _ in range(n["events"])],
        "value": [money(0, 500) for _ in range(n["events"])],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n["events"])],
    }
    # documents: random word soup like TESTDATA.md's, plus exact and
    # near-duplicate copies so the dedup stages have work to remove
    texts: list[str] = []
    for i in range(n["documents"]):
        if i >= 20 and rng.random() < 0.08:
            words = texts[rng.randrange(len(texts))].split()
            if rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(8, 100))))
    tables["documents"] = {
        "doc_id": list(range(n["documents"])),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n["documents"])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": [len(t) for t in texts],
    }
    centers = nrng.normal(0, 1, (10, EMBED_DIM))
    labels = nrng.integers(0, 10, n["embeddings"])
    vecs = centers[labels] + nrng.normal(0, 0.6, (n["embeddings"], EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": list(range(n["embeddings"])),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes): the
    check that the same seed rewrote the same inputs."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
