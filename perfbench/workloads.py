"""The benchmark's workloads: inputs, operation classes and result checks.

A workload prepares its inputs from the seed, gets the session ready,
builds the DataFrame of one operation of a named class, and checks one
collected result per class against an answer it derives independently
of the engine.

- ``pbf_extract``: each operation opens the generated ``.osm.pbf`` with
  ``OSM.from_pbf`` and runs one reference-style extract.  The Python
  data-source decode (``sources/pbf.py``, ``sources/pbf_codec.py``) does
  most of the work, with element-kind pruning and the dictionary
  blob-skip deciding how much of it runs.
- ``bronze_extract``: the same extract and class mix over the parquet
  tables ``OSM.to_bronze`` wrote during set-up, so the engine, Catalyst
  and geometry do the same work with the PBF decoder bypassed.
- ``suite_mix``: registered suite queries over generated star-schema
  tables, checked against their DuckDB oracle SQL.  ``curate``,
  ``functions``, ``tables`` and the suite's driver-side plan building do
  the work; ``sources`` is bypassed.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench import inputs

# Extract classes: (element kinds, tag key) — the kinds and key decide the
# data-source pruning the engine pushes into the scan.  Closed-way
# buildings are in the extract but not in the mix: their geometry is the
# same way-node join and linestring assembly as the highways', and a
# third class costs a run ~10 s of warm-up that the time budget lacks.
EXTRACT_CLASSES = {
    "highway": ({1}, "highway"),
    "amenity": ({0}, "amenity"),
}

# Registered queries of the suite mix: curate and the text functions it
# calls (llm_curation_recipe) and the suite's heaviest driver-side build
# (osm_point_in_polygon, ~2500 py4j calls while building its plan).  The
# ANN query is not in the mix: its index training and its own cold first
# operation cost a run ~25 s on a contended 4-vCPU host, which the time
# budget lacks; the traced run still times the training
# (``train_ann``).
SUITE_CLASSES = [
    "llm_curation_recipe",
    "osm_point_in_polygon",
]
# the tables the mix reads; ``load_table`` memoizes them per session
SUITE_TABLES = ("documents", "orders")


def extract_query(cls: str, geometry: bool = True):
    from osmdatapy_spark import Query

    kinds, key = EXTRACT_CLASSES[cls]
    return Query(nodes=0 in kinds, ways=1 in kinds, keep={key: []}, geometry=geometry)


def rows_digest(rows) -> str:
    """Order-independent digest of a collection of rows."""
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()[:16]


class ExtractWorkload:
    classes = list(EXTRACT_CLASSES)

    def __init__(self, work: str, bronze: bool):
        self.bronze = bronze
        self.pbf = os.path.join(work, "extract.osm.pbf")
        self.bronze_dir = os.path.join(work, "bronze")
        self.expected: dict[str, set] = {}
        self.setup_layers: dict[str, float] = {}

    def prepare(self, seed: int) -> None:
        self.expected = inputs.write_extract(self.pbf, seed)

    def input_digest(self) -> str:
        with open(self.pbf, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    def sizes(self) -> dict:
        out = {"pbf_bytes": os.path.getsize(self.pbf), "elements": inputs.extract_elements()}
        if self.bronze:
            out["bronze_bytes"] = dir_bytes(self.bronze_dir)
        return out

    def ready(self, spark, tracer) -> None:
        if self.bronze:
            from osmdatapy_spark import OSM

            t0 = time.perf_counter()
            with tracer.span("engine.bronze_write"):
                OSM.from_pbf(spark, self.pbf).to_bronze(self.bronze_dir)
            self.setup_layers["engine.bronze_write_s"] = time.perf_counter() - t0
            self.setup_layers["engine.bronze_bytes_per_pbf_byte"] = (
                dir_bytes(self.bronze_dir) / os.path.getsize(self.pbf))

    def build(self, spark, cls: str, tracer, geometry: bool = True):
        from osmdatapy_spark import OSM

        with tracer.span("engine.open"):
            if self.bronze:
                osm = OSM.from_bronze(spark, self.bronze_dir)
            else:
                osm = OSM.from_pbf(spark, self.pbf)
        with tracer.span("query.compile"):
            q = extract_query(cls, geometry)
            if tracer.enabled:
                q.compile()
        with tracer.span("engine.build"):
            return osm.query(q)

    def check(self, spark, cls: str, df) -> tuple[bool, str]:
        rows = [tuple(r) for r in df.select("osmid", "osmtype", "geometry").collect()]
        want = self.expected[cls]
        ok = len(rows) == len(want) and set(rows) == want
        return ok, f"{len(rows)} rows (want {len(want)}), digest {rows_digest(rows)}"


class SuiteWorkload:
    classes = SUITE_CLASSES

    def __init__(self, work: str):
        self.sf_dir = os.path.join(work, "sf")
        self.setup_layers: dict[str, float] = {}
        self._oracle = None

    def prepare(self, seed: int) -> None:
        inputs.write_tables(self.sf_dir, seed)

    def input_digest(self) -> str:
        return inputs.tree_digest(self.sf_dir)

    def sizes(self) -> dict:
        return {"table_bytes": dir_bytes(self.sf_dir), "rows": dict(inputs.SUITE_ROWS)}

    def ready(self, spark, tracer) -> None:
        from osmdatapy_spark.tables import load_table

        t0 = time.perf_counter()
        with tracer.span("tables.load"):
            for name in SUITE_TABLES:
                load_table(spark, self.sf_dir, name)
        self.setup_layers["tables.load_s"] = time.perf_counter() - t0

    def train_ann(self, spark, tracer) -> float:
        """Train the IVF-PQ index with the artifact keys
        ``llm_ann_ivfpq_topk`` trains on first use; returns seconds."""
        from osmdatapy_spark.functions.artifacts import train_once
        from osmdatapy_spark.functions.similarity import kmeans_centroids, pq_codebooks
        from osmdatapy_spark.tables import load_table

        t0 = time.perf_counter()
        emb = load_table(spark, self.sf_dir, "embeddings")
        with tracer.span("functions.ann_train"):
            train_once(
                (self.sf_dir, "ivf_centroids", 8, 1),
                lambda: kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=1),
            )
            train_once(
                (self.sf_dir, "pq_codebooks", 64, 4, 4, 1),
                lambda: pq_codebooks(emb, 64, "vec_id", "embedding", m_sub=4, k_cells=4, iters=1),
            )
        return time.perf_counter() - t0

    def build(self, spark, cls: str, tracer, geometry: bool = True):
        from osmdatapy_spark.suite import QUERY_REGISTRY

        with tracer.span("suite.build"):
            return QUERY_REGISTRY[cls].fn(spark, self.sf_dir)

    def oracle(self):
        if self._oracle is None:
            import duckdb

            from osmdatapy_spark.tables import TABLE_NAMES

            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self._oracle = con
        return self._oracle

    def check(self, spark, cls: str, df) -> tuple[bool, str]:
        from osmdatapy_spark.suite import QUERY_REGISTRY

        got_cols = df.columns
        got = [canon_row(r, got_cols) for r in df.collect()]
        cur = self.oracle().execute(QUERY_REGISTRY[cls].oracle)
        want_cols = [d[0] for d in cur.description]
        want = [canon_row(r, want_cols) for r in cur.fetchall()]
        ok = sorted(got_cols) == sorted(want_cols) and sorted(got) == sorted(want)
        return ok, f"{len(got)} rows (oracle {len(want)}), digest {rows_digest(got)}"

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


def canon(v):
    """A value as a comparable, type-tagged form shared by Spark rows and
    DuckDB tuples: ints and floats stay distinct and floats compare
    exactly, as the oracle contract requires."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import Row

    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "nan" if v != v else repr(v))
    if isinstance(v, Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("t", v.isoformat())
    if isinstance(v, dict):
        return ("r", tuple(canon(x) for x in v.values()))
    if isinstance(v, Row):
        return ("r", tuple(canon(x) for x in v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    return ("?", repr(v))


def canon_row(row, cols: list[str]) -> str:
    by_name = dict(zip(cols, row))
    return repr(tuple(canon(by_name[c]) for c in sorted(cols)))


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


WORKLOADS = {
    "pbf_extract": lambda work: ExtractWorkload(work, bronze=False),
    "bronze_extract": lambda work: ExtractWorkload(work, bronze=True),
    "suite_mix": SuiteWorkload,
}
