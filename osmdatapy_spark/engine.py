"""``OSM`` facade — the engine entry point (reference ``osmdatapy/osmdata.py``).

The reference's ``OSM(filepath)`` builds three driver-resident caches
(block offsets, string dictionary, node coords — ``osmdata.py:29-39``);
none of those exist here because Spark's scan machinery replaces them
(SURVEY.md §1.5): elements live in a DataFrame with a ``tags`` map,
node coordinates are just the ``nodes`` table, and "querying" is a
filter/projection pipeline Catalyst optimizes.

Construction paths:
- ``OSM.from_tables(elements, nodes, ...)`` — any DataFrames in the §1.5
  data model (bronze parquet/Delta tables at scale);
- ``OSM(path)`` with a ``.pbf`` file — reads through the custom PBF data
  source (``osmdatapy_spark.sources.pbf``).
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from osmdatapy_spark import memo
from osmdatapy_spark._pyworker import kernel
from osmdatapy_spark.operators.rings import missing_vertex_sql, ring_chains
from osmdatapy_spark.operators.topology import topology_segments
from osmdatapy_spark.operators.geometry import (
    linestring_wkt,
    parts_wkt,
    point_wkt,
    way_geom_type,
    GEOM_AREA,
    GEOM_LINESTRING,
    GEOM_POINT,
)
from osmdatapy_spark.query import OSMTYPE_RELATION, OSMTYPE_WAY, Query


_ELEMENT_COLUMNS = (
    "osmid", "osmtype", "tags", "refs", "members", "version", "timestamp", "changeset",
)


def _split_way_refs(ways: DataFrame) -> DataFrame:
    """``way_refs(way_id, pos, node_id)``: one row per node of each way
    row (``osmid``, ``refs``) — the exploded membership bronze table."""
    return ways.select("osmid", F.posexplode("refs").alias("pos", "node_id")).select(
        col("osmid").alias("way_id"), "pos", "node_id"
    )


def _split_rel_members(rels: DataFrame) -> DataFrame:
    """``rel_members(rel_id, pos, member_id, member_type, role)``: one row
    per member of each relation row (``osmid``, ``members``)."""
    return rels.select("osmid", F.posexplode("members").alias("pos", "m")).select(
        col("osmid").alias("rel_id"),
        "pos",
        col("m.ref").alias("member_id"),
        col("m.type").alias("member_type"),
        col("m.role").alias("role"),
    )


def _with_way_coords(out: DataFrame, nodes: DataFrame) -> DataFrame:
    """``out`` (element rows with ``refs``) plus ``coords``: each way's
    ordered ARRAY<STRUCT<lon,lat>> (reference G2's coords gather,
    _frame.py:103-105), in ONE pass over ``out``.  Joining ``out`` back to
    coordinates built from a second use of it would scan its source twice:
    Spark does not reuse a scan across two exchanges.

    Every row explodes into its refs (``posexplode_outer`` keeps one row
    for a row without refs), left-joins the nodes on node id and regroups
    on ``(osmtype, osmid)``, so a node and a way that share an id stay
    apart.  The row's other columns ride only its first exploded row, and
    ``refs`` is rebuilt from the collected ``(pos, node id)`` pairs, so
    neither crosses the node-id exchange once per ref.  The join key is
    ``(node id, node id)``; a row without refs joins on ``(null, own id)``,
    which matches nothing but hashes by the row's id (a bare null key would
    send every such row to one shuffle partition).  Output: ``osmtype``,
    ``osmid``, the other columns of ``out``, ``refs``, ``coords`` (null for
    a row without refs and for a way with a missing vertex: a node the
    extract does not hold, as clipped extracts have); one row per
    ``(osmtype, osmid)``."""
    rest = [f"`{c}`" for c in out.columns if c not in ("osmtype", "osmid", "refs")]
    exploded = out.selectExpr(
        "osmtype",
        "osmid",
        f"struct({', '.join(rest + ['refs IS NULL AS _norefs'])}) AS _row",
        "posexplode_outer(refs) AS (_pos, _nid)",
    ).selectExpr(
        "osmtype",
        "osmid",
        "_pos",
        "_nid",
        "IF(coalesce(_pos, 0) = 0, _row, NULL) AS _row",
        "coalesce(_nid, osmid) AS _salt",
    )
    pts = nodes.selectExpr("osmid AS _nid", "osmid AS _salt", "lon AS _lon", "lat AS _lat")
    return (
        exploded.join(pts, ["_nid", "_salt"], "left")
        .groupBy("osmtype", "osmid")
        .agg(
            F.expr("first(_row, true) AS _row"),
            F.expr(
                "array_sort(collect_list(IF(_pos IS NULL, NULL, struct(_pos, _nid, _lon, _lat))))"
                " AS _pts"
            ),
        )
        .selectExpr(
            "osmtype",
            "osmid",
            "_row.*",
            "IF(_row._norefs, NULL, transform(_pts, p -> p._nid)) AS refs",
            "IF(size(_pts) = 0 OR exists(_pts, p -> p._lon IS NULL OR p._lat IS NULL), NULL,"
            " transform(_pts, p -> struct(p._lon AS lon, p._lat AS lat))) AS coords",
        )
    )


def _with_wkb(out: DataFrame) -> DataFrame:
    """``out`` plus ``geometry_wkb``, encoded from the coordinates its WKT
    was rendered from: node ``lon``/``lat``, way ``coords`` and relation
    ``_akind``/``_aparts``, each present when the query built that kind's
    geometry, and dropped here."""
    from osmdatapy_spark.operators.wkb import CRS_METADATA, parts_wkb

    cases = []  # (rows, geometry kind, parts)
    if "lon" in out.columns:
        cases.append(("osmtype = 0", GEOM_POINT, "array(array(array(struct(lon, lat))))"))
    if "coords" in out.columns:
        cases.append(
            (f"osmtype = {OSMTYPE_WAY} AND geometry IS NOT NULL", GEOM_LINESTRING, "array(array(coords))")
        )
    if "_aparts" in out.columns:
        cases.append(
            (f"osmtype = {OSMTYPE_RELATION}", f"IF(_akind = 'area', {GEOM_AREA}, {GEOM_LINESTRING})", "_aparts")
        )
    if cases:
        kind = memo.expr("CASE " + " ".join(f"WHEN {w} THEN {k}" for w, k, _ in cases) + " END")
        parts = memo.expr("CASE " + " ".join(f"WHEN {w} THEN {p}" for w, _, p in cases) + " END")
        geom = parts_wkb(kind, parts)
    else:
        geom = lit(None).cast("binary")
    return (
        out.withColumn("geometry_wkb", geom)
        .withMetadata("geometry_wkb", CRS_METADATA)
        .drop("lon", "lat", "coords", "_akind", "_aparts")
    )


class OSM:
    """Query driver over the element data model (reference ``osmdata.py:16-39``)."""

    def __init__(
        self,
        elements: "DataFrame | str",
        nodes: Optional[DataFrame] = None,
        way_refs: Optional[DataFrame] = None,
        rel_members: Optional[DataFrame] = None,
        spark: Optional[SparkSession] = None,
    ):
        # drop-in parity with the reference's entry point OSM(filepath)
        # (osmdata.py:29): a path opens through the PBF data source on the
        # active (or a fresh tuned) session
        import os

        pbf_meta = None
        if isinstance(elements, (str, os.PathLike)):
            path = str(elements)
            if spark is None:
                spark = SparkSession.getActiveSession()
            if spark is None:
                from osmdatapy_spark.session import get_spark

                spark = get_spark()
            pbf_meta = (spark, path)
            # lazy relations: the properties below open each bronze
            # table on first access, so a query pays only for the tables
            # it touches.  Opening is a memo hit after the first OSM of
            # the session over this file (sources/_row.py:load holds one
            # relation handle per session, path and options), so a
            # relation's setup cost — the JVM's Python planner round trips
            # for schema and blob plan — is paid once per session
            elements = nodes = way_refs = rel_members = None
        elif nodes is None:
            raise ValueError("OSM needs a nodes table (or a .pbf path)")
        self._elements = elements
        self._nodes = nodes
        self._way_refs = way_refs
        self._rel_members = rel_members
        # set when constructed from a .pbf path: lets query() re-derive a
        # KIND-PRUNED elements scan (P2 block pruning) instead of decoding
        # every element kind and filtering post-decode
        self._pbf_meta: "tuple[SparkSession, str] | None" = pbf_meta
        # per-ring coordinate arrays for ALL geometry-bearing relations,
        # persisted once by cache_relation_geometry() — the reusable
        # bronze step behind relation_areas()/relation_lines()/query()
        self._rel_coords_cache: Optional[DataFrame] = None
        # memoized probe: does rel_members contain relation-type members
        # (relation-of-relations geometry)?  None = not yet probed
        self._has_nested_members: Optional[bool] = None

    # -- lazy bronze relations (pbf-backed OSMs build on first access) -----

    def _read_pbf(self, **options) -> DataFrame:
        from osmdatapy_spark.sources.pbf import read_pbf

        spark, path = self._pbf_meta
        return read_pbf(spark, path, **options)

    @property
    def elements(self) -> DataFrame:
        if self._elements is None and self._pbf_meta is not None:
            self._elements = self._read_pbf().select(*_ELEMENT_COLUMNS)
        return self._elements

    @property
    def nodes(self) -> DataFrame:
        if self._nodes is None and self._pbf_meta is not None:
            self._nodes = self._read_pbf(osmtypes={0}, columns=["osmid", "lon", "lat"])
        return self._nodes

    @property
    def way_refs(self) -> Optional[DataFrame]:
        if self._way_refs is None and self._pbf_meta is not None:
            self._way_refs = _split_way_refs(
                self._read_pbf(osmtypes={1}, columns=["osmid", "refs"])
            )
        return self._way_refs

    @property
    def rel_members(self) -> Optional[DataFrame]:
        if self._rel_members is None and self._pbf_meta is not None:
            self._rel_members = _split_rel_members(
                self._read_pbf(osmtypes={2}, columns=["osmid", "members"])
            )
        return self._rel_members

    # -- constructors ------------------------------------------------------

    @classmethod
    def from_tables(
        cls,
        elements: DataFrame,
        nodes: DataFrame,
        way_refs: Optional[DataFrame] = None,
        rel_members: Optional[DataFrame] = None,
    ) -> "OSM":
        return cls(elements, nodes, way_refs, rel_members)

    @classmethod
    def from_pbf(cls, spark: SparkSession, path: str) -> "OSM":
        """Open a ``.osm.pbf`` through the custom data source
        (reference entry point ``OSM(filepath)``, osmdata.py:29-39).
        Bronze relations construct lazily on first access — a ways-only
        query never pays for the rel_members relation's driver-side
        setup, let alone its decode."""
        return cls(path, spark=spark)

    @classmethod
    def from_xml(cls, spark: SparkSession, path: str) -> "OSM":
        """Open ``.osm`` XML (JOSM/iD exports, Overpass responses) through
        the osmxml data source — the same unified schema as ``from_pbf``,
        split into the four bronze tables post-scan (XML has no per-kind
        wire pruning; it is the interchange format, so files are small —
        bulk data belongs in PBF or bronze parquet)."""
        from osmdatapy_spark.sources.xml import read_osm_xml

        df = read_osm_xml(spark, path)
        return cls(
            df.select(*_ELEMENT_COLUMNS),
            df.filter(col("osmtype") == 0).select("osmid", "lon", "lat"),
            _split_way_refs(df.filter(col("osmtype") == 1)),
            _split_rel_members(df.filter(col("osmtype") == 2)),
        )

    # -- bronze persistence (SCALE.md: "what would change first") ----------

    def to_bronze(self, path: str, buckets: int = 0) -> None:
        """Persist the four tables as parquet — the one-time materialization
        that replaces the reference's in-memory caches (osmdata.py:29-39).
        Every later query gets row-group statistics + dictionary filtering.

        With ``buckets`` > 0, nodes and way_refs are written as bucketed
        TABLES (osmid / node id) so topology and coordinate joins co-locate
        without an exchange; bucketing requires saveAsTable (a metastore),
        so plain-path deployments fall back to sorted parquet."""
        self.elements.write.mode("overwrite").parquet(f"{path}/elements")
        nodes = self.nodes.sortWithinPartitions("osmid")
        refs = self.way_refs
        if buckets:
            nodes.write.mode("overwrite").bucketBy(buckets, "osmid").sortBy(
                "osmid"
            ).option("path", f"{path}/nodes").saveAsTable("bronze_nodes")
            if refs is not None:
                refs.write.mode("overwrite").bucketBy(buckets, "node_id").option(
                    "path", f"{path}/way_refs"
                ).saveAsTable("bronze_way_refs")
        else:
            nodes.write.mode("overwrite").parquet(f"{path}/nodes")
            if refs is not None:
                refs.write.mode("overwrite").parquet(f"{path}/way_refs")
        if self.rel_members is not None:
            self.rel_members.write.mode("overwrite").parquet(f"{path}/rel_members")

    @classmethod
    def from_bronze(cls, spark: SparkSession, path: str) -> "OSM":
        """Open the tables ``to_bronze`` wrote.  ``way_refs`` and
        ``rel_members`` are optional: an absent directory gives None, any
        other read error (a corrupt file) raises."""
        from pyspark.errors import AnalysisException

        read = spark.read.parquet

        def opt(p):
            try:
                return read(p)
            except AnalysisException as e:
                if e.getCondition() == "PATH_NOT_FOUND":
                    return None
                raise

        return cls(
            read(f"{path}/elements"),
            read(f"{path}/nodes"),
            opt(f"{path}/way_refs"),
            opt(f"{path}/rel_members"),
        )

    def to_pbf(
        self,
        path: str,
        elements_per_group: int = 8000,
        codec: str = "zlib",
        metadata: bool = False,
    ) -> int:
        """Sharded ``.osm.pbf`` sink — the write side of the PBF source
        (the reference is read-only; SURVEY §2.1 S14 names terminal
        DataFrames as the sink surface, this adds the native format).

        Each Spark partition encodes ONE standalone, spec-valid
        ``part-NNNNN.osm.pbf`` under ``path`` — its own OSMHeader frame,
        dense-node/way/relation groups of ``elements_per_group``, kinds in
        canonical node→way→relation order (``repartitionByRange`` +
        ``sortWithinPartitions`` on (osmtype, osmid) gives global range
        layout across shards).  Sharded output is what a planet-scale
        pipeline wants anyway (parallel encode, parallel re-read: every
        shard is independently scannable by this source or osmium);
        ``cat`` of re-framed shards or a driver-side merge makes a single
        file when a tool insists.  Encoding runs executor-side via
        ``foreachPartition`` (the codec is pure Python stdlib — no driver
        funnel, no collect); returns the shard count written.

        Tags, coordinates, refs, and members round-trip; with
        ``metadata=True`` the version/timestamp/changeset columns round-
        trip too (Info / DenseInfo submessages, timestamps in seconds at
        the spec-default 1000 ms date granularity; missing values write
        as 0) — the archival/history workflows' wire format.
        """
        import os

        from pyspark.sql import functions as F

        os.makedirs(path, exist_ok=True)
        # the Info columns: real values when metadata round-trip is on,
        # null placeholders otherwise (uniform row schema either way)
        if metadata:
            missing = [
                c for c in ("version", "timestamp", "changeset")
                if c not in self.elements.columns
            ]
            if missing:
                raise ValueError(
                    f"to_pbf(metadata=True) needs elements columns {missing} "
                    "(scan the source with metadata columns included)"
                )
            meta_cols = [
                col("version").cast("int").alias("version"),
                col("timestamp").cast("long").alias("timestamp"),
                col("changeset").cast("long").alias("changeset"),
            ]
        else:
            meta_cols = [
                lit(None).cast("int").alias("version"),
                lit(None).cast("long").alias("timestamp"),
                lit(None).cast("long").alias("changeset"),
            ]
        nodes = (
            self.elements.filter(col("osmtype") == 0)
            .select("osmid", "tags", *meta_cols)
            .join(self.nodes, "osmid")
            .select("osmid", lit(0).alias("osmtype"), "tags", "lon", "lat",
                    lit(None).cast("array<long>").alias("refs"),
                    lit(None).cast(
                        "array<struct<member_id:long,member_type:int,role:string>>"
                    ).alias("members"),
                    "version", "timestamp", "changeset")
        )
        ways = self.elements.filter(col("osmtype") == 1).select(
            "osmid", "osmtype", "tags",
            lit(None).cast("double").alias("lon"), lit(None).cast("double").alias("lat"),
            col("refs").cast("array<long>").alias("refs"),
            lit(None).cast(
                "array<struct<member_id:long,member_type:int,role:string>>"
            ).alias("members"),
            *meta_cols,
        )
        rels = self.elements.filter(col("osmtype") == 2).select(
            "osmid", "osmtype", "tags",
            lit(None).cast("double").alias("lon"), lit(None).cast("double").alias("lat"),
            lit(None).cast("array<long>").alias("refs"),
            F.expr(
                "cast(members as array<struct<member_id:long,member_type:int,role:string>>)"
            ).alias("members"),
            *meta_cols,
        )
        all_rows = (
            nodes.unionByName(ways).unionByName(rels)
            .repartitionByRange("osmtype", "osmid")
            .sortWithinPartitions("osmtype", "osmid")
        )
        target, group, czx, with_meta = path, elements_per_group, codec, metadata

        @kernel
        def write_partition(rows) -> None:
            from pyspark import TaskContext

            from osmdatapy_spark.sources.pbf_codec import PbfWriter

            buf_n: list = []
            buf_w: list = []
            buf_r: list = []
            w = PbfWriter(codec=czx)
            seen = False
            for r in rows:
                seen = True
                # Info/DenseInfo tuple; missing values write as 0 (spec:
                # Info fields are optional, 0 reads back as "unset epoch")
                meta = (
                    (r.version or 0, r.timestamp or 0, r.changeset or 0)
                    if with_meta
                    else None
                )
                if r.osmtype == 0:
                    nt = (r.osmid, r.lon, r.lat, dict(r.tags or {}))
                    buf_n.append(nt + (meta,) if with_meta else nt)
                    if len(buf_n) >= group:
                        w.add_dense_nodes(buf_n); buf_n = []
                elif r.osmtype == 1:
                    wt = (r.osmid, list(r.refs or []), dict(r.tags or {}))
                    buf_w.append(wt + (meta,) if with_meta else wt)
                    if len(buf_w) >= group:
                        w.add_ways(buf_w); buf_w = []
                else:
                    mem = [(m.member_id, m.member_type, m.role or "") for m in (r.members or [])]
                    rt = (r.osmid, mem, dict(r.tags or {}))
                    buf_r.append(rt + (meta,) if with_meta else rt)
                    if len(buf_r) >= group:
                        w.add_relations(buf_r); buf_r = []
            if buf_n:
                w.add_dense_nodes(buf_n)
            if buf_w:
                w.add_ways(buf_w)
            if buf_r:
                w.add_relations(buf_r)
            if seen:
                pid = TaskContext.get().partitionId()
                tmp = os.path.join(target, f".part-{pid:05d}.tmp")
                w.write(tmp)
                os.replace(tmp, os.path.join(target, f"part-{pid:05d}.osm.pbf"))

        all_rows.foreachPartition(write_partition)
        return len([f for f in os.listdir(path) if f.endswith(".osm.pbf")])

    # -- introspection (reference osmdata.py:41-84) ------------------------

    def info(self) -> DataFrame:
        """Engine statistics (reference ``OSM.info()``, osmdata.py:41-73):
        element counts per kind + tag cardinality, as a DataFrame."""
        return self.elements.groupBy("osmtype").agg(
            F.count("*").alias("n_elements"),
            F.sum(F.size("tags")).alias("n_tag_pairs"),
            F.countDistinct("osmid").alias("n_distinct_ids"),
        )

    def geometry(self) -> DataFrame:
        """The full coordinate table (reference ``osm.geometry()``,
        osmdata.py:75-79)."""
        return self.nodes.select("osmid", "lon", "lat")

    def coords(self, ids: DataFrame | Iterable[int]) -> DataFrame:
        """Point lookup (reference ``osm.coords``, osmdata.py:81-84 —
        searchsorted on a driver array).  Here: a join — broadcast-hinted
        only when the probe side is a literal list (already
        driver-resident, so the hint is free and bounded); a DataFrame
        probe set can scale with the data, so it joins unhinted and AQE
        decides."""
        if isinstance(ids, DataFrame):
            probe = ids
        else:
            spark = self.nodes.sparkSession
            probe = broadcast(
                spark.createDataFrame([(int(i),) for i in ids], "osmid long")
            )
        return probe.join(self.nodes, "osmid", "left").select("osmid", "lon", "lat")

    # -- the main query path (reference osmdata.py:183-206) ----------------

    def _elements_for(self, q: Query, only: "set[int] | None" = None) -> DataFrame:
        """Elements relation for a query, kind-pruned at the SOURCE when
        this OSM was opened from a .pbf path (P2 block pruning, reference
        osmdata.py:140-168 block-kind skip): a ways-only query never
        decodes the dense-node wire data at all — each pruned scan is its
        own relation, so scan reuse cannot merge differently-pruned reads
        (see sources/pbf.py).  Falls back to the shared elements
        relation (post-decode Catalyst filter) for table-backed OSMs,
        where parquet row-group stats do the same pruning."""
        wanted = only if only is not None else {
            t
            for t, on in ((0, q.nodes), (1, q.ways), (2, q.relations))
            if on
        }
        if self._pbf_meta is None or not wanted or len(wanted) == 3:
            return self.elements
        # field-decode pruning rides the same relation options: a query
        # without metadata=True never parses Info blobs, a nodes-less
        # query never delta-accumulates refs, etc. (the 'columns' option —
        # a .select() above a Python-DS scan cannot prune, see read_pbf)
        cols = ["osmid", "osmtype", "tags"]
        if 0 in wanted:
            cols += ["lon", "lat"]
        if 1 in wanted:
            cols.append("refs")
        if 2 in wanted:
            cols.append("members")
        if q.metadata:
            cols += ["version", "timestamp", "changeset"]
        # dictionary skip (reference P2): Query.must_tags means "element
        # carries at least ONE of these keys", so blocks whose string
        # table contains NONE of them cannot contribute — push the keys
        # as the disjunctive any_tag_keys option and the executor bails
        # right after each block's stringtable decode.  With
        # keep_first=True (the constructor default) the keep table is
        # equally mandatory (pred = must & kps & ~exs), so its KEYS are
        # a valid any-of condition too; under keep_first=False keep is
        # advisory (~exs | kps) and must NOT prune.  Safe because
        # q.apply()'s tag predicate re-filters the surviving rows, and
        # member/coordinate attachment reads the bronze scans, never this
        # one.  (Comma is the option separator, so a pathological key
        # containing one skips the optimization, not correctness.)
        any_keys = None
        if q.must_tags and not any("," in k for k in q.must_tags):
            any_keys = set(q.must_tags)
        elif (
            q.keep
            and q.keep_first
            and not any("," in k for k in q.keep)
        ):
            any_keys = set(q.keep)
        return self._read_pbf(osmtypes=wanted, columns=cols, any_tag_keys=any_keys)

    def query(self, q: Query, wkb: bool = False) -> DataFrame:
        """Execute a composable Query → element DataFrame.

        Pipeline parity with reference ``osm.query``/``to_dataframe``
        (osmdata.py:183-206, _frame.py:8-57): filter+project elements; for
        ways attach refs; for relations attach members; geometry mode adds
        WKT for points, linestrings and relations (relation assembly via
        ``_relation_parts``).  With ``wkb=True`` a ``geometry_wkb``
        BinaryType column (ISO little-endian WKB, EPSG:4326 column
        metadata) is appended next to the WKT, encoded from the same
        coordinates — the binary surface the reference serves as shapely
        objects (``_frame.py:54-56``)."""
        if wkb and not q.geometry:
            raise ValueError(
                "wkb=True requires a geometry query (Query(geometry=True)) — "
                "there is no geometry column to encode"
            )
        out = q.apply(self._elements_for(q))

        if q.geometry:
            out = self._with_geometry(out, q, keep_coords=wkb)
            if q.relations and self.rel_members is not None:
                # relation geometry (G5 dispatch): areas for
                # type ∈ {multipolygon, boundary}, linestrings for
                # type=route — ONE shared chaining pipeline, one left join
                # (reference _frame.py:87-105).  Assembly is scoped to the
                # relations the query SELECTS (semi-join on the filtered
                # element ids): a planet-scale query for bus routes must
                # not chain every multipolygon's member ways — the probe
                # side is the post-filter relation set, which AQE
                # broadcasts when small
                kept = (
                    q.apply(self._elements_for(q, only={OSMTYPE_RELATION}))
                    .filter(col("osmtype") == OSMTYPE_RELATION)
                    .select(col("osmid").alias("rel_id"))
                )
                kinds = self._relation_kinds().join(kept, "rel_id", "left_semi")
                rel_geoms = self._relation_parts(kinds).select(
                    col("rel_id").alias("_arid"),
                    parts_wkt("kind", "parts").alias("_awkt"),
                    *([col("kind").alias("_akind"), col("parts").alias("_aparts")] if wkb else []),
                )
                out = out.join(
                    rel_geoms,
                    (col("osmtype") == OSMTYPE_RELATION) & (col("osmid") == col("_arid")),
                    "left",
                ).drop("_arid")
                out = out.withColumn(
                    "geometry", F.coalesce(col("geometry"), col("_awkt"))
                ).drop("_awkt")
            out = out.withMetadata("geometry", {"crs": "EPSG:4326"})
            if wkb:
                out = _with_wkb(out)
        if q.topology:
            segs = self.topology(q)
            out = (
                out.drop("refs")
                .join(
                    segs,
                    (out.osmid == segs.way_id) & (col("osmtype") == OSMTYPE_WAY),
                    "inner",
                )
                .drop("way_id")
            )
        return out

    @staticmethod
    def to_geodataframe(result: DataFrame, geometry_col: str = "geometry"):
        """Materialize a geometry query result as a geopandas GeoDataFrame
        with CRS EPSG:4326 — the reference's native output surface
        (``_frame.py:54-56``).  Import-gated: shapely/geopandas are not
        engine dependencies (WKT/WKB columns are the cluster-side
        contract); this is the driver-side convenience for users whose
        environment has the geo stack.  Collects — small results only."""
        try:
            import geopandas as gpd
            from shapely import wkt as shapely_wkt
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "to_geodataframe needs shapely + geopandas; the engine "
                "itself serves WKT ('geometry') and WKB ('geometry_wkb', "
                "query(wkb=True)) columns without them"
            ) from e
        if geometry_col not in result.columns:
            raise ValueError(
                f"no {geometry_col!r} column — run the query with "
                "geometry=True (available: "
                f"{result.columns})"
            )
        pdf = result.toPandas()
        geoms = pdf[geometry_col].map(
            lambda w: shapely_wkt.loads(w) if w is not None else None
        )
        return gpd.GeoDataFrame(
            pdf.drop(columns=[geometry_col]), geometry=geoms, crs="EPSG:4326"
        )

    def _with_geometry(self, out: DataFrame, q: Query, keep_coords: bool = False) -> DataFrame:
        """Node/way geometry attachment, gated on the query's element kinds:
        a relation-only query joins neither the nodes table nor way refs —
        those joins would be row-free work (the kind filter already ran in
        ``q.apply``), and every skipped join is a skipped exchange.  With
        ``keep_coords`` the rows keep the node ``lon``/``lat`` and way
        ``coords`` the WKT was rendered from, for ``_with_wkb``."""
        nodes = self.nodes
        # elements may carry refs inline (PBF scan) or only via the exploded
        # way_refs table (bronze-tier fixtures) — attach arrays on demand
        if q.ways and "refs" not in out.columns and self.way_refs is not None:
            refs = self._way_ref_arrays()
            # a way without way_refs rows has empty refs, as a PBF scan
            # gives it ([] and geom_type 0, not null)
            out = out.join(
                refs,
                (out.osmid == refs.way_id) & (col("osmtype") == OSMTYPE_WAY),
                "left",
            ).drop("way_id").withColumn(
                "refs",
                F.when(
                    col("osmtype") == OSMTYPE_WAY,
                    F.coalesce(col("refs"), F.array().cast("array<long>")),
                ),
            )
        if q.nodes:
            point = point_wkt(col("lon"), col("lat"))
            # PBF scans carry node coords inline (the pruned elements
            # relation includes lon/lat when nodes are selected); other
            # backings join the nodes table
            if "lon" not in out.columns:
                pts = nodes.select(col("osmid").alias("_nid"), "lon", "lat")
                # node points (reference J6/G1, _frame.py:44-52); osmid is
                # NOT unique across element kinds, so the join is
                # osmtype-gated — a way whose id collides with a node id
                # must not pick up coords
                out = out.join(
                    pts, (out.osmid == pts["_nid"]) & (col("osmtype") == 0), "left"
                ).drop("_nid")
                # a node missing from the nodes table has no point, as a
                # way with a missing vertex has no linestring
                point = F.when(col("lon").isNotNull() & col("lat").isNotNull(), point)
        else:
            point = lit(None).cast("string")
        gt = F.when(col("osmtype") == 0, GEOM_POINT)
        if q.ways and "refs" in out.columns:
            gt = gt.when(
                (col("osmtype") == OSMTYPE_WAY) & col("refs").isNotNull(),
                # default-arg (canonical) form — hits the per-JVM memo of
                # the expensive rule-table expression (operators/geometry)
                way_geom_type(),
            )
        out = out.withColumn("geom_type", gt)
        if q.ways and "refs" in out.columns:
            line = linestring_wkt(col("coords"))
            out = _with_way_coords(out, nodes).select(
                "osmid",
                *[c for c in out.columns if c != "osmid"],
                *(["coords"] if keep_coords else []),
                F.when(col("osmtype") == 0, point)
                .when((col("osmtype") == OSMTYPE_WAY) & (col("geom_type") >= GEOM_LINESTRING), line)
                .alias("geometry"),
            )
        else:
            out = out.withColumn("geometry", F.when(col("osmtype") == 0, point))
        if keep_coords:
            return out
        return out.drop(*[c for c in ("lon", "lat") if c in out.columns])

    # -- composite pipelines ----------------------------------------------

    def topology(self, q: Optional[Query] = None) -> DataFrame:
        """Way topology segmentation (reference G10; see operators.topology)."""
        refs = self.way_refs
        if q is not None:
            kept = q.apply(self.elements).filter(col("osmtype") == OSMTYPE_WAY).select("osmid")
            refs = refs.join(kept, refs.way_id == kept.osmid, "left_semi")
        return topology_segments(refs)

    def _way_ref_arrays(self) -> DataFrame:
        """(way_id, refs ARRAY<LONG>) — ONE aggregation of the refs table
        serving endpoints (element_at projections) and node sequences."""
        return self.way_refs.groupBy("way_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "node_id"))),
                lambda s: s["node_id"],
            ).alias("refs")
        )

    def relation_rings(self) -> DataFrame:
        """``(rel_id, ring, nodes, ring_role, kind)``: the closed rings of
        every area relation (type ∈ {multipolygon, boundary}), member ways
        chained into rings (reference G6-G7; operators.rings) with nested
        relation members flattened to their ways — the rings
        ``relation_areas()`` renders."""
        return self._chain_rings(self._relation_kinds(line=False))

    def _member_walk(self, members: DataFrame, max_depth: int) -> DataFrame:
        """J2 at arbitrary depth: the union of the levels of the membership
        walk from ``members`` (``rel_members`` rows).  Columns other than
        ``pos``, ``member_id``, ``member_type`` and ``role`` — ``rel_id``,
        the root, and any the caller adds — ride along unchanged to every
        level.  Each level holds ``member_id``, ``member_type``, ``role``,
        ``depth`` (1 = a direct member) and ``path``, the member positions
        from the root down (ARRAY<INT>).

        The reference stops at depth 1 with a TODO (``osmdata.py:192``);
        here the member join is ITERATED to a fixpoint: each round joins
        the current relation-type frontier back onto ``rel_members`` and
        stops when the frontier drains or ``max_depth`` is hit (the cap
        also terminates member cycles, which are legal-if-broken OSM data).

        Scale shape: one join + ``localCheckpoint`` per level (lineage
        stays flat, the standard driver-loop iteration — see
        ``connected_components``).  The frontier SHRINKS geometrically —
        it holds only relation-type members, which are <1% of planet
        membership — so rounds after the first are near-free; real OSM
        nesting rarely exceeds depth ~6."""
        keep = [c for c in members.columns if c not in ("pos", "member_id", "member_type", "role")]
        level = members.select(
            *keep,
            "member_id",
            "member_type",
            "role",
            lit(1).alias("depth"),
            F.array(col("pos").cast("int")).alias("path"),
        )
        sub = self.rel_members.select(
            col("rel_id").alias("_sub_rel"),
            col("pos").alias("_m_pos"),
            col("member_id").alias("_m_id"),
            col("member_type").alias("_m_type"),
            col("role").alias("_m_role"),
        )
        walk = level
        for _ in range(1, max_depth):
            frontier = level.filter(col("member_type") == OSMTYPE_RELATION)
            if frontier.isEmpty():
                break
            level = (
                frontier.join(sub, col("member_id") == col("_sub_rel"))
                .select(
                    *keep,
                    col("_m_id").alias("member_id"),
                    col("_m_type").alias("member_type"),
                    col("_m_role").alias("role"),
                    (col("depth") + 1).alias("depth"),
                    F.concat("path", F.array(col("_m_pos").cast("int"))).alias("path"),
                )
                .localCheckpoint()
            )
            walk = walk.unionByName(level)
        return walk

    def expand_members(self, max_depth: int = 8) -> DataFrame:
        """The transitive membership closure of every relation —
        ``(root_rel, member_id, member_type, role, depth)`` for each member
        reachable from ``root_rel`` through nested relations, up to
        ``max_depth`` levels (``_member_walk``)."""
        if self.rel_members is None:
            raise ValueError(
                "expand_members requires relation membership: this OSM was "
                "built without a rel_members table"
            )
        return self._member_walk(self.rel_members, max_depth).select(
            col("rel_id").alias("root_rel"), "member_id", "member_type", "role", "depth"
        )

    def _relation_kinds(self, area: bool = True, line: bool = True) -> DataFrame:
        """(rel_id, kind) for geometry-bearing relations — the G5 dispatch
        (reference ``_rel_geotype``, primitives.py:288-305) as data."""
        from osmdatapy_spark.defaults import RELATION_AREA, RELATION_LINESTRING

        tval = col("tags").getItem("type")
        kind = lit(None).cast("string")
        if line:
            kind = F.when(tval.isin(RELATION_LINESTRING), "line").otherwise(kind)
        if area:
            kind = F.when(tval.isin(RELATION_AREA), "area").otherwise(kind)
        if self._pbf_meta is None:
            rels = self.elements.filter(col("osmtype") == OSMTYPE_RELATION)
        else:
            # a PBF-backed OSM reads relation tags from the kind-pruned
            # relation scan, never decoding a node or a way
            rels = self._read_pbf(
                osmtypes={OSMTYPE_RELATION}, columns=["osmid", "osmtype", "tags"]
            )
        return (
            rels.select(col("osmid").alias("rel_id"), kind.alias("kind"))
            .filter(col("kind").isNotNull())
        )

    def relation_areas(self) -> DataFrame:
        """(rel_id, wkt) POLYGON/MULTIPOLYGON for type ∈ {multipolygon,
        boundary} relations (reference ``_frame.py:107-179``)."""
        parts = self._relation_parts(self._relation_kinds(line=False), branches=("area",))
        return parts.select("rel_id", parts_wkt("kind", "parts").alias("wkt"))

    def relation_lines(self) -> DataFrame:
        """(rel_id, wkt) LINESTRING/MULTILINESTRING for type=route
        relations (reference line branch ``_frame.py:87-105``)."""
        parts = self._relation_parts(self._relation_kinds(area=False), branches=("line",))
        return parts.select("rel_id", parts_wkt("kind", "parts").alias("wkt"))

    def cache_relation_geometry(self) -> "OSM":
        """Materialize the chain/gather pipeline for ALL geometry-bearing
        relations as a persisted bronze table (like ``to_bronze`` for the
        element tables): the G6 chain kernel + node-coordinate join — the
        expensive 9-of-12-exchanges prefix of every relation-geometry
        query — runs ONCE, and every later ``relation_areas()`` /
        ``relation_lines()`` / geometry ``query()`` reads the persisted
        per-ring coordinate arrays (≤3 exchanges: branch filter + part
        assembly).  The persisted unit is relation rings only — a sliver
        of the corpus even at planet scale (where this table would be a
        written bronze parquet, same contract)."""
        if self._rel_coords_cache is None:
            coords = self._build_ring_coords(self._relation_kinds())
            self._rel_coords_cache = coords.persist()
        return self

    def _flatten_way_members(self, kinds: DataFrame, max_depth: int = 8) -> DataFrame:
        """(rel_id, way_id, member_pos, role, kind) way membership of each
        geometry-bearing relation, with RELATION-type members flattened to
        their ways (relation-of-relations geometry: e.g. a type=boundary
        relation whose members are sub-relations — the reference's depth-1
        TODO at osmdata.py:192 leaves these without geometry).

        The common case (no nested relation members among the requested
        relations) is detected with one cheap limit-1 probe and returns
        the direct-way membership untouched — identical plan to before.
        When nesting exists, the way leaves of the membership walk
        (``_member_walk``) are kept in the lexicographic order of their
        position path (sub-relation members sort where their parent sat),
        and each leaf way keeps ITS OWN role — outer/inner live on the leaf
        members in real boundary hierarchies."""
        mem = self.rel_members.join(kinds, "rel_id")
        # cheapest sufficient probe, memoized per OSM: scan rel_members
        # alone (no kinds join — one narrow limit-1 job; Catalyst folds it
        # to a no-op when member_type is a literal) and take the flatten
        # path only when ANY relation-type member exists in the data
        if self._has_nested_members is None:
            self._has_nested_members = not (
                self.rel_members.filter(col("member_type") == OSMTYPE_RELATION)
                .limit(1)
                .isEmpty()
            )
        if not self._has_nested_members:
            return mem.filter(col("member_type") == OSMTYPE_WAY).select(
                "rel_id",
                col("member_id").alias("way_id"),
                col("pos").alias("member_pos"),
                "role",
                "kind",
            )

        from pyspark.sql import Window as W

        flat = self._member_walk(mem, max_depth).filter(col("member_type") == OSMTYPE_WAY)
        w = W.partitionBy("rel_id").orderBy("path")
        return flat.select(
            "rel_id",
            col("member_id").alias("way_id"),
            F.row_number().over(w).alias("member_pos"),
            "role",
            "kind",
        )

    def _chain_rings(self, kinds: DataFrame) -> DataFrame:
        """``(rel_id, ring, nodes, ring_role, kind)``: the member ways of
        the ``kinds`` relations, nested members flattened to their leaf
        ways (``_flatten_way_members`` — a no-op probe when no nesting),
        chained by the fused chain kernel (``ring_chains`` — ONE refs
        aggregation + ONE way_id join, refs ride the rel_id exchange
        through Arrow; role + kind travel through its schema, no re-join
        to recover them).  Area rings are closed (G7, node-id level,
        matching the reference's append-first-ref closure); route chains
        stay open."""
        from osmdatapy_spark.operators.geometry import close_rings

        members = self._flatten_way_members(kinds).join(self._way_ref_arrays(), "way_id")
        return ring_chains(members).withColumn(
            "nodes",
            F.when(col("kind") == "area", close_rings(col("nodes"))).otherwise(col("nodes")),
        )

    def _build_ring_coords(self, kinds: DataFrame) -> DataFrame:
        """The shared chain/gather pipeline: the chained rings
        (``_chain_rings``) and ONE node-coordinate gather serving both
        geometry branches (the node join is the expensive step —
        per-branch gathers would scan and shuffle the nodes table twice);
        everything after stays keyed by rel_id."""
        return self._ring_coords(self._chain_rings(kinds), ["ring_role", "kind"])

    def _relation_parts(
        self, kinds: DataFrame, branches: tuple = ("area", "line")
    ) -> DataFrame:
        """``(rel_id, kind, parts)``: relation geometry assembled once, as
        coordinate parts (``kind`` 'area' or 'line'; ``parts``
        ARRAY<ARRAY<ARRAY<STRUCT<lon,lat>>>>, see ``geometry.parts_wkt``)
        that WKT, WKB and GeoJSON are rendered from.  Areas and routes
        share ONE member-chaining pipeline (G6 kernel, endpoint join,
        node-sequence expansion), splitting into the polygon ring algebra
        (G7-G9) and the chain branch only at part assembly — the two types
        are disjoint by the G5 dispatch, so a unionByName stitches the
        result.

        With ``cache_relation_geometry()`` warmed, the chain/gather prefix
        is read from the persisted bronze table (restricted to the
        requested relations by a left-semi join) instead of recomputed."""
        if self._rel_coords_cache is not None:
            coords = self._rel_coords_cache.join(
                kinds.select("rel_id"), "rel_id", "left_semi"
            )
        elif len(branches) > 1:
            # one-shot two-branch path: persist the shared gather for THIS
            # query only.  The split must be PHYSICAL, not just logical:
            # Spark does not share subtrees across union branches, so
            # without persist each branch would re-run the whole upstream
            # (chain kernel + node join).  The persisted unit is per-ring
            # coordinate arrays — relation rings only, a sliver of the
            # corpus even at planet scale.  One live frame per session:
            # the next query's persist releases this one
            coords = memo.managed_persist(self._build_ring_coords(kinds), "relation_parts.coords")
        else:
            # single-branch callers (relation_areas / relation_lines) have
            # exactly one consumer — a persist would only add a cache
            # barrier (blocks AQE across it) and memory pressure
            coords = self._build_ring_coords(kinds)
        # build only the requested branches: a lines-only caller must not
        # pay the (empty) polygon ring algebra's aggregations in its plan
        parts = []
        if "area" in branches:
            parts.append(self._assemble_areas(coords.filter(col("kind") == "area")))
        if "line" in branches:
            parts.append(self._assemble_lines(coords.filter(col("kind") == "line")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _ring_coords(self, rings: DataFrame, extra_keys: list[str]) -> DataFrame:
        """J4: one node-coordinate join, then re-collect ordered per-ring
        coordinate arrays (reference coords gather, _frame.py:103-105)."""
        keys = ["rel_id", "ring", *extra_keys]
        pts = rings.select(*keys, F.posexplode("nodes").alias("pt_pos", "node_id"))
        joined = pts.join(
            self.nodes.select(col("osmid").alias("node_id"), "lon", "lat"), "node_id", "left"
        )
        return joined.groupBy(*keys).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pt_pos", "lon", "lat"))),
                lambda s: F.struct(s["lon"].alias("lon"), s["lat"].alias("lat")),
            ).alias("coords")
        )

    def _assemble_lines(self, chain_coords: DataFrame) -> DataFrame:
        """Per-chain coords → ``(rel_id, kind, parts)``, one part per chain
        in chain order (reference ``make_lines``, _geometry.py:25-41): one
        part is a LINESTRING, more are a MULTILINESTRING (gaps)."""
        # a chain with a vertex missing from the extract leaves the whole
        # relation out, as assign_polygons does for areas: the query's
        # left join then gives its row a null geometry (the way rule)
        return (
            chain_coords.groupBy("rel_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(col("ring"), col("coords")))),
                    lambda s: F.array(s["coords"]),
                ).alias("parts"),
                F.max(F.expr(missing_vertex_sql("coords"))).alias("gap"),
            )
            .filter(~col("gap"))
            .select("rel_id", lit("line").alias("kind"), "parts")
        )

    def _assemble_areas(self, ring_coords: DataFrame) -> DataFrame:
        """Closed-ring coords → ``(rel_id, kind, parts)``, one part per
        polygon in polygon order, each part its rings (outer first, then
        holes): classify rings by the first member's role, group rings into
        polygons (G9, _frame.py:251-256).  One part is a POLYGON, more are a
        MULTIPOLYGON (G3).

        Complex relations (>1 inner AND >1 outer) go BEYOND the reference,
        which drops their inner rings outright (G8, _frame.py:234-244,
        README.md:27 — real planet data has thousands of such relations:
        lakes with islands inside multi-ring boundaries).  Here each inner
        ring is assigned to the outer ring that CONTAINS its first vertex
        (even-odd ray cast, ``point_in_ring``), choosing the smallest
        containing outer so holes nest correctly even when outers nest
        (pond on an island in a lake).  Inners contained by no outer fall
        back to the reference's drop — the truly-broken-relation case.

        The classification runs as ONE per-relation Arrow kernel
        (``rings.assign_polygons`` — the same per-group-sequential shape
        as the G6 chain kernel): ring counts are bounded per OSM entity,
        independent of corpus size, and the single rel_id exchange it
        costs is reused by both polygon groupBys below (subset rule) —
        the window/join/union formulation of the same algebra cost ~6
        extra exchanges and a 4-way DAG fan-out re-running the coordinate
        gather per branch."""
        from osmdatapy_spark.operators.rings import assign_polygons

        indexed = assign_polygons(ring_coords)
        polys = indexed.groupBy("rel_id", "poly").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.when(col("role") == "inner", 1).otherwise(0).alias("inner"),
                            col("ring"),
                            col("coords").alias("coords"),
                        )
                    )
                ),
                lambda s: s["coords"],
            ).alias("rings")
        )
        return polys.groupBy("rel_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(col("poly"), col("rings")))),
                lambda s: s["rings"],
            ).alias("parts")
        ).select("rel_id", lit("area").alias("kind"), "parts")
