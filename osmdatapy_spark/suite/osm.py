"""OSM-semantics operator suite over *derived* element tables.

The driver's testdata has no OSM tables, so each query first derives a
deterministic OSM-shaped dataset from the synthetic star schema (same
derivation written twice: once in Spark, once in the DuckDB oracle's CTEs
— an independent double implementation, which is exactly what makes the
oracle meaningful):

- ``way_refs(way_id, pos, node_id)``  := lineitem (l_orderkey, l_linenumber, l_partkey)
- ``nodes(osmid, lon, lat)``          := part, coords = pure integer arithmetic
- way ``tags``                        := orders columns → OSM-ish keys (modulo rules)
- ``rel_members``                     := orders grouped by customer

Every reference-specific pipeline (SURVEY §2.2 tag predicates, §2.3 joins,
§2.7 geometry/topology) gets exercised on these with a value-level oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo
from osmdatapy_spark.memo import managed_persist
from osmdatapy_spark.operators.geometry import linestring_wkt, point_wkt, way_geom_type
from osmdatapy_spark.operators.rings import ring_chains
from osmdatapy_spark.operators.topology import topology_segments, way_endpoints
from osmdatapy_spark.query import Query
from osmdatapy_spark.suite._util import T, coords_lookup
from osmdatapy_spark.suite.registry import register

# ---------------------------------------------------------------------------
# Shared derivations (Spark side)
# ---------------------------------------------------------------------------


def derived_way_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_linenumber is NOT unique within an order in the synthetic data, so
    # pos must be a row_number over a total order — otherwise member order
    # (and every downstream endpoint/topology result) is engine-dependent.
    # The window partitions by the ALIAS so the output partitioning
    # survives the final projection — downstream groupBy(way_id) then
    # reuses this exchange instead of adding its own (alias-aware
    # partitioning only tracks attributes that remain in the project
    # list).  Both projections are memoized SQL (``memo.select``).
    li = memo.select(
        T(spark, sf_dir, "lineitem"),
        "l_orderkey AS way_id", "l_partkey AS node_id", "l_linenumber",
    )
    return memo.select(
        li,
        "way_id",
        "row_number() OVER (PARTITION BY way_id ORDER BY l_linenumber, node_id) AS pos",
        "node_id",
    )


def derived_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo.select(
        T(spark, sf_dir, "part"),
        "p_partkey AS osmid",
        "CAST(((p_partkey % 360) - 180) + 0.5D AS DOUBLE) AS lon",
        "CAST(((p_partkey % 170) - 85) + 0.25D AS DOUBLE) AS lat",
    )


def _opt_map(*pairs: tuple[str, str]) -> str:
    """SQL MAP from (key, value-SQL) pairs, dropping NULL values — the
    Spark idiom for a sparse tags map."""
    args = ", ".join(f"{memo.sstr(k)}, {v}" for k, v in pairs)
    return f"map_filter(map({args}), (__k, __v) -> __v IS NOT NULL)"


def derived_way_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Way elements with OSM-ish tags derived from orders via modulo rules.

    The vocabulary deliberately includes values the reference's default
    queries exclude (highway=abandoned/bus_stop, service=spur, area=yes,
    type=multipolygon) so Query(defaults=...) has real discrimination."""
    tags = _opt_map(
        ("highway", "CASE o_orderkey % 7 WHEN 0 THEN 'residential' WHEN 1 THEN 'primary' "
                    "WHEN 2 THEN 'service' WHEN 3 THEN 'footway' WHEN 5 THEN 'abandoned' "
                    "WHEN 6 THEN 'bus_stop' END"),
        ("building", "CASE o_orderkey % 4 WHEN 0 THEN 'yes' WHEN 1 THEN 'no' WHEN 2 THEN 'house' END"),
        ("area", "CASE o_orderkey % 9 WHEN 0 THEN 'no' WHEN 1 THEN 'yes' END"),
        ("natural", "CASE o_orderkey % 11 WHEN 0 THEN 'coastline' END"),
        ("barrier", "CASE o_orderkey % 13 WHEN 0 THEN 'wall' END"),
        ("service", "CASE o_orderkey % 17 WHEN 0 THEN 'spur' WHEN 1 THEN 'driveway' END"),
        ("type", "CASE o_orderkey % 19 WHEN 0 THEN 'multipolygon' END"),
        ("name", "CASE o_orderkey % 3 WHEN 0 THEN concat('way-', CAST(o_orderkey AS STRING)) END"),
    )
    return memo.select(
        T(spark, sf_dir, "orders"),
        "o_orderkey AS osmid", "CAST(1 AS TINYINT) AS osmtype", f"{tags} AS tags",
    )


def derived_node_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    tags = _opt_map(
        ("amenity", "CASE p_partkey % 10 WHEN 0 THEN 'restaurant' WHEN 1 THEN 'cafe' END"),
        ("shop", "CASE p_partkey % 7 WHEN 0 THEN 'bakery' END"),
        ("tourism", "CASE p_partkey % 9 WHEN 0 THEN 'hotel' END"),
        ("name", "CASE p_partkey % 3 WHEN 0 THEN concat('node-', CAST(p_partkey AS STRING)) END"),
    )
    return memo.select(
        T(spark, sf_dir, "part"),
        "p_partkey AS osmid", "CAST(0 AS TINYINT) AS osmtype", f"{tags} AS tags",
    )


# DuckDB-side derivations as reusable CTE text
WAYS_CTE = """
ways AS (
  SELECT l_orderkey AS way_id,
         -- (l_linenumber, l_partkey) can TIE at sf>=0.1, but tied rows carry the
         -- same l_partkey = node_id, so either pos assignment yields the same
         -- (pos, node_id) sequence — tie-safe WITHOUT the 5-column total order
         -- the version-assigning fixtures need (see suite/ext.py SCD2/CDC)
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS pos,
         l_partkey AS node_id
  FROM lineitem
)
"""

NODES_CTE = """
nodes AS (
  SELECT p_partkey AS osmid,
         CAST((p_partkey % 360) - 180 + 0.5 AS DOUBLE) AS lon,
         CAST((p_partkey % 170) - 85 + 0.25 AS DOUBLE) AS lat
  FROM part
)
"""

# orders → way tag columns (wide form; the oracle never needs a map type)
WAY_TAGS_CTE = """
way_tags AS (
  SELECT o_orderkey AS osmid,
    CASE o_orderkey % 7 WHEN 0 THEN 'residential' WHEN 1 THEN 'primary'
                        WHEN 2 THEN 'service' WHEN 3 THEN 'footway'
                        WHEN 5 THEN 'abandoned' WHEN 6 THEN 'bus_stop' END AS highway,
    CASE o_orderkey % 4 WHEN 0 THEN 'yes' WHEN 1 THEN 'no' WHEN 2 THEN 'house' END AS building,
    CASE o_orderkey % 9 WHEN 0 THEN 'no' WHEN 1 THEN 'yes' END AS area,
    CASE WHEN o_orderkey % 11 = 0 THEN 'coastline' END AS "natural",
    CASE WHEN o_orderkey % 13 = 0 THEN 'wall' END AS barrier,
    CASE o_orderkey % 17 WHEN 0 THEN 'spur' WHEN 1 THEN 'driveway' END AS service,
    CASE WHEN o_orderkey % 19 = 0 THEN 'multipolygon' END AS rel_type,
    CASE WHEN o_orderkey % 3 = 0 THEN 'way-' || CAST(o_orderkey AS VARCHAR) END AS name
  FROM orders
)
"""

NODE_TAGS_CTE = """
node_tags AS (
  SELECT p_partkey AS osmid,
    CASE p_partkey % 10 WHEN 0 THEN 'restaurant' WHEN 1 THEN 'cafe' END AS amenity,
    CASE WHEN p_partkey % 7 = 0 THEN 'bakery' END AS shop,
    CASE WHEN p_partkey % 9 = 0 THEN 'hotel' END AS tourism,
    CASE WHEN p_partkey % 3 = 0 THEN 'node-' || CAST(p_partkey AS VARCHAR) END AS name
  FROM part
)
"""


# ---------------------------------------------------------------------------
# A1/G endpoints + G10 topology
# ---------------------------------------------------------------------------


@register(
    "osm_way_endpoints",
    oracle=f"""
    WITH {WAYS_CTE}
    SELECT DISTINCT way_id,
           FIRST_VALUE(node_id) OVER w AS source,
           LAST_VALUE(node_id)  OVER w AS target,
           COUNT(*) OVER w AS n_nodes
    FROM ways
    WINDOW w AS (PARTITION BY way_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="Way endpoint extraction (ref A1 end_values, _frame.py:298-303).",
)
def osm_way_endpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return way_endpoints(derived_way_refs(spark, sf_dir))


@register(
    "osm_topology_segments",
    oracle=f"""
    WITH {WAYS_CTE},
    marked AS (
      SELECT way_id, pos, node_id,
             COUNT(*) OVER (PARTITION BY node_id) > 1 AS is_shared,
             ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) = 1 AS is_first,
             ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos DESC) = 1 AS is_last
      FROM ways
    ),
    boundaries AS (
      SELECT * FROM marked WHERE is_shared OR is_first OR is_last
    ),
    segs AS (
      SELECT way_id,
             ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) - 1 AS seg,
             node_id AS source,
             LEAD(node_id) OVER (PARTITION BY way_id ORDER BY pos) AS target,
             LEAD(pos) OVER (PARTITION BY way_id ORDER BY pos) - pos + 1 AS n_nodes
      FROM boundaries
    )
    SELECT way_id, CAST(seg AS BIGINT) AS seg, source, target, CAST(n_nodes AS BIGINT) AS n_nodes
    FROM segs WHERE target IS NOT NULL
    """,
    bench=True,
    doc="Topology segmentation — the reference's flagship pipeline (G10 "
    "relation_topology, _frame.py:267-296): split ways at shared nodes, emit "
    "per-segment source/target. Two well-keyed shuffles; see operators/topology.py.",
)
def osm_topology_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused pos derivation (order_cols): composing derived_way_refs's pos
    # window with the operator costs a way → node → way exchange sandwich
    # (3 member-set shuffles); handing the operator the ordering columns
    # lets it derive pos inside the way-keyed stage — 2 shuffles, same
    # rows (row_number over the identical partition/order)
    li = T(spark, sf_dir, "lineitem").select(
        col("l_orderkey").alias("way_id"),
        col("l_partkey").alias("node_id"),
        "l_linenumber",
    )
    segs = topology_segments(li, order_cols=["l_linenumber", "node_id"])
    return segs.select(
        "way_id",
        col("seg").cast("long").alias("seg"),
        "source",
        "target",
        col("n_nodes").cast("long").alias("n_nodes"),
    )


# ---------------------------------------------------------------------------
# P-family: tag predicates (the _validate_tagval truth table, live)
# ---------------------------------------------------------------------------


@register(
    "osm_tag_filter_keep_first",
    oracle=f"""
    WITH {WAY_TAGS_CTE}
    SELECT osmid FROM way_tags
    WHERE (COALESCE(highway IN ('residential','primary'), FALSE) OR building IS NOT NULL)
      AND NOT COALESCE(highway = 'residential' AND name IS NULL, FALSE)
      AND NOT (COALESCE(area = 'no', FALSE) OR COALESCE("natural" = 'coastline', FALSE))
    """,
    doc="keep/exclude with keep_first=True ⇒ keep ∧ ¬exclude (ref "
    "primitives.py:213-215). Keep: highway∈{residential,primary} ∨ building=*; "
    "exclude: area=no ∨ natural=coastline ∨ (residential ∧ unnamed). Pure Column "
    "algebra over the tags map — no UDF, fully pushdown-eligible.",
)
def osm_tag_filter_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    elements = derived_way_elements(spark, sf_dir)
    q = Query(
        ways=True,
        keep={"highway": ["residential", "primary"], "building": []},
        exclude={"area": ["no"], "natural": ["coastline"]},
        keep_first=True,
        tags=False,
    )
    # the extra "residential ∧ unnamed" exclusion exercises compound
    # exclude composition via append_exclude
    base = elements.filter(q.compile())
    # guard with map_contains_key so the predicate is two-valued (a bare
    # tags['highway']=='residential' is NULL when the key is absent and a
    # negated NULL silently drops the row)
    unnamed_res = (
        F.map_contains_key("tags", "highway")
        & (col("tags").getItem("highway") == "residential")
        & ~F.map_contains_key("tags", "name")
    )
    return base.filter(~unnamed_res).select("osmid")


@register(
    "osm_tag_filter_keep_last",
    oracle=f"""
    WITH {WAY_TAGS_CTE}
    SELECT osmid FROM way_tags
    WHERE NOT (COALESCE(building = 'no', FALSE) OR COALESCE(barrier = 'wall', FALSE))
       OR COALESCE(highway = 'footway', FALSE)
    """,
    doc="keep/exclude with keep_first=False ⇒ ¬exclude ∨ keep (ref "
    "primitives.py:213-215): exclusions dominate unless a keep pair rescues the row.",
)
def osm_tag_filter_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    elements = derived_way_elements(spark, sf_dir)
    q = Query(
        ways=True,
        keep={"highway": ["footway"]},
        exclude={"building": ["no"], "barrier": ["wall"]},
        keep_first=False,
        tags=False,
    )
    return elements.filter(q.compile()).select("osmid")


@register(
    "osm_must_tags",
    oracle=f"""
    WITH {NODE_TAGS_CTE}
    SELECT osmid, amenity, shop FROM node_tags
    WHERE amenity IS NOT NULL OR shop IS NOT NULL
    """,
    doc="must_tags existence predicate (ref P3 _validate_tag, "
    "primitives.py:178-183) + tag projection to wide columns (P7 + tag pivot "
    "_frame.py:59-68 on an explicit key list).",
)
def osm_must_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    elements = derived_node_elements(spark, sf_dir)
    q = Query(nodes=True, must_tags=["amenity", "shop"], tags=["amenity", "shop"])
    out = elements.filter(q.compile()).withColumn("tags", q.tag_projection())
    return out.select(
        "osmid",
        col("tags").getItem("amenity").alias("amenity"),
        col("tags").getItem("shop").alias("shop"),
    )


@register(
    "osm_default_query_highways",
    oracle=f"""
    WITH {WAY_TAGS_CTE}
    SELECT osmid, highway, area, service FROM way_tags
    WHERE highway IS NOT NULL
      AND NOT (COALESCE(highway IN ('abandoned','disused','virtual','no','corridor',
                                    'elevator','escalator','bus_stop','platform'), FALSE)
               OR COALESCE(service IN ('crossover','yard','spur','siding',
                                       'irrigation','slipway'), FALSE)
               OR COALESCE(area = 'yes', FALSE)
               OR COALESCE(rel_type = 'multipolygon', FALSE))
    """,
    doc="Default 'highways' query — the reference's HIGHWAYS dict verbatim "
    "(ref defaults.py:67-107, merge semantics osmquery.py:78-101): "
    "must_tags=[highway], keep_first=False with the reference's "
    "highway/service/area/type exclusions, projected to its tag list.",
)
def osm_default_query_highways(spark: SparkSession, sf_dir: str) -> DataFrame:
    elements = derived_way_elements(spark, sf_dir)
    q = Query(defaults="highways")
    out = elements.filter(q.compile()).withColumn("tags", q.tag_projection())
    return out.select(
        "osmid",
        col("tags").getItem("highway").alias("highway"),
        col("tags").getItem("area").alias("area"),
        col("tags").getItem("service").alias("service"),
    )


# ---------------------------------------------------------------------------
# G4 area heuristic + G7 ring closing
# ---------------------------------------------------------------------------


@register(
    "osm_area_heuristic",
    oracle=f"""
    WITH {WAYS_CTE}, {WAY_TAGS_CTE},
    refs AS (
      SELECT way_id, list(node_id ORDER BY pos) AS r FROM ways GROUP BY way_id
    ),
    closed AS (
      SELECT way_id,
             CASE WHEN way_id % 3 = 0 THEN list_append(r, r[1]) ELSE r END AS r
      FROM refs
    ),
    typed AS (
      SELECT c.way_id, len(c.r) AS n, c.r[1] = c.r[-1] AS is_closed,
             t.highway, t.building, t.area, t."natural", t.barrier
      FROM closed c JOIN way_tags t ON c.way_id = t.osmid
    )
    SELECT way_id,
      CASE
        WHEN n <= 1 THEN 0
        WHEN n < 4 THEN 2
        WHEN NOT is_closed THEN 2
        WHEN area = 'no' THEN 2
        WHEN barrier = 'wall' THEN 3
        WHEN "natural" = 'coastline' OR building = 'no' THEN 2
        WHEN building IS NOT NULL OR "natural" IS NOT NULL OR area IS NOT NULL THEN 3
        ELSE 2
      END AS geom_type
    FROM typed
    """,
    doc="Way line-vs-area heuristic (ref G4 _way_geotype primitives.py:260-285 "
    "+ Overpass rules defaults.py:5-56, corrected semantics per SURVEY §2.12). "
    "Ways closed by construction for way_id%3=0 (exercises G7 ring closing too). "
    "The oracle re-derives the decision tree independently in SQL.",
)
def osm_area_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = (
        derived_way_refs(spark, sf_dir)
        .groupBy("way_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "node_id"))), lambda s: s["node_id"]
            ).alias("refs")
        )
    )
    closed = refs.withColumn(
        "refs",
        F.when(
            col("way_id") % 3 == 0, F.concat(col("refs"), F.array(F.element_at("refs", 1)))
        ).otherwise(col("refs")),
    )
    tags = derived_way_elements(spark, sf_dir).select(col("osmid").alias("way_id"), "tags")
    joined = closed.join(tags, "way_id")
    return joined.select(
        "way_id", way_geom_type().cast("int").alias("geom_type")
    )


# ---------------------------------------------------------------------------
# J4 coords join + G1/G2 WKT geometry
# ---------------------------------------------------------------------------


@register(
    "osm_coords_lookup",
    oracle=f"""
    WITH {NODES_CTE}
    SELECT osmid, lon, lat FROM nodes WHERE osmid IN (1, 5, 17, 42, 99, 150)
    """,
    doc="Point lookup by id (ref J4 coords, osmdata.py:81-84 searchsorted → "
    "broadcast join here).",
)
def osm_coords_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    return nodes.filter(col("osmid").isin([1, 5, 17, 42, 99, 150])).select("osmid", "lon", "lat")


@register(
    "osm_point_wkt",
    oracle=f"""
    WITH {NODES_CTE}
    SELECT osmid, printf('POINT (%.7f %.7f)', lon, lat) AS wkt
    FROM nodes WHERE osmid % 50 = 0
    """,
    doc="Bulk point construction (ref G1 _geometry.py:8-22) as WKT text built "
    "JVM-side via format_string — no UDF, engine-portable via C printf semantics.",
)
def osm_point_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir).filter(col("osmid") % 50 == 0)
    return nodes.select("osmid", point_wkt(col("lon"), col("lat")).alias("wkt"))


@register(
    "osm_linestring_wkt",
    oracle=f"""
    WITH {WAYS_CTE}, {NODES_CTE}
    SELECT w.way_id,
           'LINESTRING (' || string_agg(printf('%.7f %.7f', n.lon, n.lat), ', ' ORDER BY w.pos) || ')' AS wkt
    FROM ways w JOIN nodes n ON w.node_id = n.osmid
    GROUP BY w.way_id
    """,
    bench=True,
    doc="Bulk linestring construction (ref G2 _geometry.py:25-41 + coords "
    "gather _frame.py:103-105): posexplode-join-recollect, then pure array→text. "
    "The node join is the scale-defining shuffle; unhinted coords_lookup "
    "lets AQE broadcast the nodes table only when runtime stats say it fits.",
)
def osm_linestring_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rides _way_coords: the shared pos-window coords gather (the r13 §W
    # A/B settled the shape — the window's exchange is reused by the
    # final-mode collect_list, so the window-free struct-sort variant
    # removed no shuffle and added ObjectHashAggregate work; see the
    # rationale in geo._way_coords).  Deferred import: geo imports osm.
    from osmdatapy_spark.suite.geo import _way_coords

    coords = _way_coords(spark, sf_dir)
    return coords.select("way_id", linestring_wkt(col("c")).alias("wkt"))


# ---------------------------------------------------------------------------
# J1/J2 relation expansion
# ---------------------------------------------------------------------------


@register(
    "osm_relation_expand",
    oracle=f"""
    WITH {WAYS_CTE},
    rel_members AS (
      SELECT o_custkey AS rel_id, o_orderkey AS way_id FROM orders
    ),
    ends AS (
      SELECT way_id, min(pos) AS p0, max(pos) AS p1, count(*) AS n FROM ways GROUP BY way_id
    )
    SELECT m.rel_id,
           COUNT(*) AS n_member_ways,
           CAST(SUM(e.n) AS BIGINT) AS n_member_nodes
    FROM rel_members m JOIN ends e ON m.way_id = e.way_id
    GROUP BY m.rel_id
    """,
    doc="Relation→way expansion (ref J1/J2, _frame.py:33-40 + osmdata.py:194-205): "
    "membership join then per-relation rollup. The reference stops at depth 1 "
    "(TODO at osmdata.py:192); arbitrary depth = iterating this join.",
)
def osm_relation_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = T(spark, sf_dir, "orders").select(
        col("o_custkey").alias("rel_id"), col("o_orderkey").alias("way_id")
    )
    way_sizes = derived_way_refs(spark, sf_dir).groupBy("way_id").agg(F.count("*").alias("n"))
    return (
        members.join(way_sizes, "way_id")
        .groupBy("rel_id")
        .agg(F.count("*").alias("n_member_ways"), F.sum("n").alias("n_member_nodes"))
    )


# ---------------------------------------------------------------------------
# G6 ring chaining (applyInPandas) with a constructive oracle
# ---------------------------------------------------------------------------

_RING_N_RELS = 12
_RING_LEN = 8  # nodes per ring cycle; 4 ways of 2 edges each


def _ring_members(spark: SparkSession) -> DataFrame:
    """Construct chainable member ways from a known cycle, scrambled and
    partially reversed, so the chaining kernel has real work to do.

    Ring r has nodes 1000r..1000r+7 in a cycle; way j of ring r covers
    nodes (2j, 2j+1, 2j+2 mod 8). Ways with odd j are stored reversed;
    member order is scrambled by (j*37) % 11.
    """
    rows = []
    for r in range(_RING_N_RELS):
        base = 1000 * r
        for j in range(_RING_LEN // 2):
            nodes = [base + (2 * j) % _RING_LEN, base + (2 * j + 1) % _RING_LEN, base + (2 * j + 2) % _RING_LEN]
            if j % 2 == 1:
                nodes = nodes[::-1]
            rows.append((r, 10 * r + j, (j * 37) % 11, nodes))
    return spark.createDataFrame(
        rows, "rel_id long, way_id long, member_pos int, refs array<long>"
    )


@register(
    "osm_ring_assembly",
    oracle=f"""
    WITH rels AS (SELECT UNNEST(generate_series(0, {_RING_N_RELS - 1})) AS rel_id),
    seq AS (SELECT UNNEST(generate_series(0, {_RING_LEN})) AS i)
    SELECT r.rel_id, 0 AS ring,
           string_agg(CAST(1000 * r.rel_id + (s.i % {_RING_LEN}) AS VARCHAR), ',' ORDER BY s.i) AS nodes_csv
    FROM rels r CROSS JOIN seq s
    GROUP BY r.rel_id
    """,
    doc="Ring assembly via endpoint chaining (ref G6 _reorder_ring "
    "_frame.py:181-215 — THE sequential-per-group kernel, here the fused "
    "chain+sequence kernel rings.ring_chains: ONE exchange, refs "
    "arrays ride through Arrow). Input rings are constructed from known "
    "cycles (scrambled + partially reversed), output canonicalized (min-node "
    "rotation, ascending direction), so the oracle can state the expected cycle "
    "in closed form. Covers G6 chaining, direction flip, G7 closing.",
)
def osm_ring_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.geometry import close_rings
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    members = _ring_members(spark)
    rings = ring_chains(members).withColumn("nodes", close_rings(col("nodes")))

    # canonicalize the closed cycle: drop closing dup, rotate min-first,
    # ascending direction, re-close
    open_ring = F.expr("slice(nodes, 1, size(nodes) - 1)")
    rings = rings.withColumn("open", open_ring)
    mpos = F.array_position(col("open"), F.array_min(col("open")))
    rot = F.concat(
        F.expr("slice(open, int(mpos), size(open) - int(mpos) + 1)"),
        F.expr("slice(open, 1, int(mpos) - 1)"),
    )
    rings = rings.withColumn("mpos", mpos).withColumn("rot", rot)
    fwd = F.element_at("rot", 2) <= F.element_at("rot", -1)
    canon = F.when(fwd, col("rot")).otherwise(
        F.concat(F.slice("rot", 1, 1), F.reverse(F.expr("slice(rot, 2, size(rot) - 1)")))
    )
    rings = rings.withColumn("canon", F.concat(canon, F.slice(canon, 1, 1)))
    return rings.select(
        "rel_id",
        col("ring").cast("int").alias("ring"),
        F.array_join(F.transform("canon", lambda x: x.cast("string")), ",").alias("nodes_csv"),
    )


# ---------------------------------------------------------------------------
# G8-beyond: TRUE multipolygon ring nesting (containment-based hole
# assignment for complex relations the reference drops)
# ---------------------------------------------------------------------------

_NEST_N_RELS = 12
_NEST_RING_FMT = "%.7f %.7f, %.7f %.7f, %.7f %.7f, %.7f %.7f, %.7f %.7f"


def _nest_fixture_osm(spark: SparkSession, nested: bool = False):
    """Relations with 2 outer squares + 2 inner squares each, member order
    outer,outer,inner,inner: the reference's G8 rule (_frame.py:234-244)
    drops both inners; positional G9 attachment would hang inner A on
    outer B.  Only containment-based nesting produces the right holes.
    Relation r lives at lon offset 10r: outer A [x,x+4]², hole A
    [x+1,x+2]², outer B [x+5,x+9]², hole B [x+6,x+7]² (lat 0-4 / 1-2).

    ``nested=True`` routes the SAME rings through sub-relations instead:
    a type=boundary super-relation whose two members are non-geometry
    sub-relations, each holding (outer way, inner way) — the
    relation-of-relations case the reference's depth-1 membership cannot
    reach.  Expected geometry is identical to the direct layout."""
    from osmdatapy_spark.engine import OSM

    nodes_rows, refs_rows, mem_rows, elem_rows = [], [], [], []
    for r in range(_NEST_N_RELS):
        x = 10.0 * r
        squares = [
            (x, 0.0, 4.0),        # outer A
            (x + 5.0, 0.0, 4.0),  # outer B
            (x + 1.0, 1.0, 1.0),  # inner A (hole in outer A)
            (x + 6.0, 1.0, 1.0),  # inner B (hole in outer B)
        ]
        wids = {}
        for s, (bx, by, d) in enumerate(squares):
            corners = [(bx, by), (bx + d, by), (bx + d, by + d), (bx, by + d)]
            nid = [r * 100 + 4 * s + c for c in range(4)]
            for c in range(4):
                nodes_rows.append((nid[c], corners[c][0], corners[c][1]))
            wid = r * 10 + s + 1
            wids[s] = wid
            for p, n in enumerate(nid + [nid[0]]):  # each ring = one closed way
                refs_rows.append((wid, p, n))
            if not nested:
                mem_rows.append((r, s, wid, 1, "outer" if s < 2 else "inner"))
        if nested:
            # super r → sub-rels (A: outer 0 + inner 2, B: outer 1 + inner 3)
            sub_a, sub_b = 10_000 + 2 * r, 10_001 + 2 * r
            mem_rows += [(r, 0, sub_a, 2, ""), (r, 1, sub_b, 2, "")]
            mem_rows += [(sub_a, 0, wids[0], 1, "outer"), (sub_a, 1, wids[2], 1, "inner")]
            mem_rows += [(sub_b, 0, wids[1], 1, "outer"), (sub_b, 1, wids[3], 1, "inner")]
            elem_rows += [(sub_a, 2, {}), (sub_b, 2, {})]  # not geometry-bearing
            elem_rows.append((r, 2, {"type": "boundary"}))
        else:
            elem_rows.append((r, 2, {"type": "multipolygon"}))
    elements = spark.createDataFrame(elem_rows, "osmid long, osmtype int, tags map<string,string>")
    nodes = spark.createDataFrame(nodes_rows, "osmid long, lon double, lat double")
    way_refs = spark.createDataFrame(refs_rows, "way_id long, pos int, node_id long")
    rel_members = spark.createDataFrame(
        mem_rows, "rel_id long, pos int, member_id long, member_type int, role string"
    )
    return OSM.from_tables(elements, nodes, way_refs, rel_members)


def _nest_ring_sql(cs: list[tuple[str, str]]) -> str:
    """Closed-ring WKT text '(x0 y0, …, x0 y0)' via DuckDB printf."""
    pts = cs + [cs[0]]
    args = ", ".join(f"{x}, {y}" for x, y in pts)
    return f"'(' || printf('{_NEST_RING_FMT}', {args}) || ')'"


# expected WKT of the nested-squares layout in closed form — shared by
# osm_ring_nesting (direct way members) and osm_boundary_nested (the same
# rings reached through sub-relations): flattening nested membership must
# produce the SAME geometry as direct membership
_NEST_ORACLE = f"""
    WITH rels AS (SELECT UNNEST(generate_series(0, {_NEST_N_RELS - 1})) AS rel_id),
    sq AS (SELECT rel_id, rel_id * 10.0 AS x FROM rels)
    SELECT rel_id,
      'MULTIPOLYGON ((' ||
        {_nest_ring_sql([("x", "0.0"), ("x+4", "0.0"), ("x+4", "4.0"), ("x", "4.0")])} || ', ' ||
        {_nest_ring_sql([("x+1", "1.0"), ("x+2", "1.0"), ("x+2", "2.0"), ("x+1", "2.0")])} ||
      '), (' ||
        {_nest_ring_sql([("x+5", "0.0"), ("x+9", "0.0"), ("x+9", "4.0"), ("x+5", "4.0")])} || ', ' ||
        {_nest_ring_sql([("x+6", "1.0"), ("x+7", "1.0"), ("x+7", "2.0"), ("x+6", "2.0")])} ||
      '))' AS wkt
    FROM sq
    """


@register(
    "osm_ring_nesting",
    oracle=_NEST_ORACLE,
    doc="TRUE multipolygon ring nesting, beyond the reference: complex "
    "relations (>1 inner AND >1 outer) assign each inner ring to the outer "
    "ring containing its first vertex (even-odd ray cast, bbox-gated), "
    "instead of dropping inners (reference G8 _frame.py:234-244, "
    "README.md:27). End-to-end through the full relation pipeline "
    "(member chaining → coordinate gather → containment join → WKT); the "
    "containment join is keyed by rel_id, pair fan-out bounded per entity. "
    "Oracle states the expected MULTIPOLYGON WKT in closed form.",
)
def osm_ring_nesting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    osm = _nest_fixture_osm(spark)
    return osm.relation_areas().select("rel_id", "wkt")


@register(
    "osm_multipolygon_area",
    oracle=f"""
    WITH rels AS (SELECT UNNEST(generate_series(0, {_NEST_N_RELS - 1})) AS rel_id)
    SELECT rel_id, CAST(30.0 AS DOUBLE) AS area_deg2 FROM rels
    """,
    doc="Holed-multipolygon area: Σ|outer ring| − Σ|assigned inner ring| "
    "per relation, computed off the chain + containment-nesting kernels' "
    "ring classification (shoelace on exact-integer-valued coordinates — "
    "every intermediate product is an exact double, so the result is "
    "bit-identical on any engine).  On the nesting fixture each relation "
    "is two 4×4 outers minus two 1×1 holes = 30.0 deg² in closed form; "
    "the reference cannot produce this number at all (its G8 drop loses "
    "the holes, _frame.py:234-244).",
)
def osm_multipolygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import shoelace_area_deg2
    from osmdatapy_spark.operators.rings import assign_polygons
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    osm = _nest_fixture_osm(spark)
    coords = osm._build_ring_coords(osm._relation_kinds(line=False))
    assigned = assign_polygons(coords.filter(col("kind") == "area"))
    signed = F.when(
        col("role") == "inner", -shoelace_area_deg2(col("coords"))
    ).otherwise(shoelace_area_deg2(col("coords")))
    return assigned.groupBy("rel_id").agg(F.sum(signed).alias("area_deg2"))


def _nest_ring_json(cs: list[tuple[str, str]]) -> str:
    """Closed-ring GeoJSON coordinate array '[[x,y],…,[x,y]]' via printf."""
    pts = cs + [cs[0]]
    args = ", ".join(f"{x}, {y}" for x, y in pts)
    fmt = ",".join(["[%.7f,%.7f]"] * len(pts))
    return f"'[' || printf('{fmt}', {args}) || ']'"


@register(
    "osm_geojson_polygons",
    oracle=f"""
    WITH rels AS (SELECT UNNEST(generate_series(0, {_NEST_N_RELS - 1})) AS rel_id),
    sq AS (SELECT rel_id, rel_id * 10.0 AS x FROM rels)
    SELECT rel_id,
      '{{"type":"Feature","geometry":{{"type":"MultiPolygon","coordinates":[[' ||
        {_nest_ring_json([("x", "0.0"), ("x+4", "0.0"), ("x+4", "4.0"), ("x", "4.0")])} || ',' ||
        {_nest_ring_json([("x+1", "1.0"), ("x+2", "1.0"), ("x+2", "2.0"), ("x+1", "2.0")])} ||
      '],[' ||
        {_nest_ring_json([("x+5", "0.0"), ("x+9", "0.0"), ("x+9", "4.0"), ("x+5", "4.0")])} || ',' ||
        {_nest_ring_json([("x+6", "1.0"), ("x+7", "1.0"), ("x+7", "2.0"), ("x+6", "2.0")])} ||
      ']]}},"properties":{{"rel_id":' || CAST(rel_id AS VARCHAR) || '}}}}' AS feature
    FROM sq
    """,
    doc="GeoJSON MultiPolygon Feature export WITH HOLES (RFC 7946) — the "
    "polygon sibling of osm_geojson_points/lines, and a geometry the "
    "reference cannot emit for complex relations (G8 drops the holes): "
    "each relation's coordinate parts, assembled once by the engine "
    "(OSM._relation_parts: kernel-classified rings, outer first, holes "
    "after, polygons in index order — the parts its WKT and WKB render "
    "from), format to a line-delimited Feature via "
    "array transforms + C-locale printf — every partition writes "
    "independently, same as the other GeoJSON faces.  Rides the one "
    "rel_id exchange of the nesting kernel.",
)
def osm_geojson_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    osm = _nest_fixture_osm(spark)
    parts = osm._relation_parts(osm._relation_kinds(line=False), branches=("area",))
    pt = "format_string('[%.7f,%.7f]', __p.lon, __p.lat)"
    ring = f"concat('[', array_join(transform(__r, __p -> {pt}), ','), ']')"
    poly = f"concat('[', array_join(transform(__g, __r -> {ring}), ','), ']')"
    return parts.select(
        "rel_id",
        F.concat(
            lit('{"type":"Feature","geometry":{"type":"MultiPolygon","coordinates":['),
            memo.expr(f"array_join(transform(parts, __g -> {poly}), ',')"),
            lit(']},"properties":{"rel_id":'),
            col("rel_id").cast("string"),
            lit("}}"),
        ).alias("feature"),
    )


@register(
    "osm_boundary_nested",
    oracle=_NEST_ORACLE,
    doc="Relation-of-relations geometry: a type=boundary relation whose "
    "members are SUB-RELATIONS (each holding the leaf outer/inner ways) "
    "assembles the same MULTIPOLYGON as direct way membership — the "
    "reference's depth-1 membership TODO (osmdata.py:192) leaves these "
    "without geometry.  Membership flattens to a depth-capped fixpoint "
    "(one join + localCheckpoint per nesting level, frontier shrinks "
    "geometrically), leaf ways keep their own roles, and flattened order "
    "is the hierarchical position path.  Oracle = the identical "
    "closed-form WKT as osm_ring_nesting.",
)
def osm_boundary_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    osm = _nest_fixture_osm(spark, nested=True)
    return osm.relation_areas().select("rel_id", "wkt")


# ---------------------------------------------------------------------------
# Cross-relation containment: admin-boundary hierarchy
# ---------------------------------------------------------------------------

_ADMIN_N_COUNTRIES = 4


def _admin_fixture_osm(spark: SparkSession):
    """Three-level admin-boundary hierarchy per 'country' c (x offset
    1000c): one level-2 99×99 square, four level-4 20×20 squares strictly
    inside it, four level-6 3×3 squares strictly inside each level-4 —
    21 boundary relations per country, each one closed way.  All
    coordinates are exact integers, so containment verdicts and the
    formulaic parent assignment are engine-independent."""
    from osmdatapy_spark.engine import OSM

    nodes_rows, refs_rows, mem_rows, elem_rows = [], [], [], []

    def add(rel_id: int, bx: float, by: float, d: float, level: int) -> None:
        wid = rel_id + 10_000
        corners = [(bx, by), (bx + d, by), (bx + d, by + d), (bx, by + d)]
        nid = [rel_id * 10 + c for c in range(4)]
        for c in range(4):
            nodes_rows.append((nid[c], corners[c][0], corners[c][1]))
        for p, n in enumerate(nid + [nid[0]]):
            refs_rows.append((wid, p, n))
        mem_rows.append((rel_id, 0, wid, 1, "outer"))
        elem_rows.append((rel_id, 2, {"type": "boundary", "admin_level": str(level)}))

    for c in range(_ADMIN_N_COUNTRIES):
        x0 = 1000.0 * c
        add(c * 100, x0, 0.0, 99.0, 2)
        for i in range(4):
            add(c * 100 + 1 + i, x0 + 5 + 24 * i, 5.0, 20.0, 4)
            for j in range(4):
                add(c * 100 + 5 + 4 * i + j, x0 + 5 + 24 * i + 1 + 4 * j, 6.0, 3.0, 6)

    elements = spark.createDataFrame(elem_rows, "osmid long, osmtype int, tags map<string,string>")
    nodes = spark.createDataFrame(nodes_rows, "osmid long, lon double, lat double")
    way_refs = spark.createDataFrame(refs_rows, "way_id long, pos int, node_id long")
    rel_members = spark.createDataFrame(
        mem_rows, "rel_id long, pos int, member_id long, member_type int, role string"
    )
    return OSM.from_tables(elements, nodes, way_refs, rel_members)


@register(
    "osm_admin_hierarchy",
    oracle=f"""
    WITH c AS (SELECT UNNEST(generate_series(0, {_ADMIN_N_COUNTRIES - 1})) AS c),
         i AS (SELECT UNNEST(generate_series(0, 3)) AS i),
         j AS (SELECT UNNEST(generate_series(0, 3)) AS j)
    SELECT c * 100 AS rel_id, '2' AS admin_level, CAST(NULL AS BIGINT) AS parent_rel
    FROM c
    UNION ALL
    SELECT c * 100 + 1 + i, '4', CAST(c * 100 AS BIGINT)
    FROM c CROSS JOIN i
    UNION ALL
    SELECT c * 100 + 5 + 4 * i + j, '6', CAST(c * 100 + 1 + i AS BIGINT)
    FROM c CROSS JOIN i CROSS JOIN j
    """,
    doc="Admin-boundary hierarchy by CROSS-RELATION polygon containment — "
    "'which admin area contains this one', the canonical OSM boundary "
    "analytics workload (and a capability the reference lacks entirely): "
    "each boundary's representative vertex probes candidate parents via "
    "the reusable bbox-cover grid join (operators/measures."
    "point_in_polygon_join, 64° cells — the 99°-wide country squares "
    "span cell boundaries, so parents replicate to every cell their "
    "bbox overlaps; no all-pairs stage, no fixture-tuned block key), "
    "the even-odd ray cast decides containment, and the SMALLEST "
    "containing polygon (by |shoelace|, id tiebreak) wins — so counties "
    "attach to states, states to countries, countries to NULL.  Rides "
    "the relation chain pipeline for ring coordinates; all verdicts "
    "exact-integer deterministic.",
)
def osm_admin_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import (
        point_in_polygon_join,
        shoelace_area_deg2,
    )
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    osm = _admin_fixture_osm(spark)
    coords = osm._build_ring_coords(osm._relation_kinds(line=False))
    rings = coords.select(
        "rel_id",
        "coords",
        F.element_at("coords", 1)["lon"].alias("px"),
        F.element_at("coords", 1)["lat"].alias("py"),
        F.abs(shoelace_area_deg2(col("coords"))).alias("area"),
    )
    # rings fans out THREE ways (probe side, polygon side, final id list)
    # and each consumer would re-derive the whole member-chaining ring
    # pipeline (measured: 27 exchanges / 12 scans in the final plan).
    # persist() the fork point — relation-count-sized rows — so the
    # pipeline runs once; persist (not localCheckpoint) keeps the cached
    # subtree visible to the registry-wide plan audits (the ring-chaining
    # pandas kernel must stay lintable).
    rings = managed_persist(rings, "admin_hierarchy.rings")
    child = rings.select(
        col("rel_id").alias("c_rel"), col("px").alias("cpx"), col("py").alias("cpy")
    )
    parents_in = rings.select(
        col("rel_id").alias("p_rel"),
        col("coords").alias("p_coords"),
        col("area").alias("p_area"),
    )
    cand = point_in_polygon_join(
        child, parents_in, 64.0, point_x="cpx", point_y="cpy", ring_coords="p_coords"
    ).filter(col("c_rel") != col("p_rel"))
    parents = cand.groupBy("c_rel").agg(
        F.min(F.struct(col("p_area"), col("p_rel")))["p_rel"].alias("parent_rel")
    )
    levels = osm.elements.filter(col("osmtype") == 2).select(
        col("osmid").alias("rel_id"), F.element_at("tags", "admin_level").alias("admin_level")
    )
    return (
        rings.select("rel_id")
        .join(parents.withColumnRenamed("c_rel", "rel_id"), "rel_id", "left")
        .join(levels, "rel_id")
        .select("rel_id", "admin_level", "parent_rel")
    )


@register(
    "osm_point_in_admin",
    oracle=f"""
    WITH c AS (SELECT UNNEST(generate_series(0, {_ADMIN_N_COUNTRIES - 1})) AS c)
    SELECT c * 10 + 0 AS point_id, CAST(c * 100 + 11 AS BIGINT) AS admin_rel FROM c
    UNION ALL
    SELECT c * 10 + 1, CAST(c * 100 + 2 AS BIGINT) FROM c
    UNION ALL
    SELECT c * 10 + 2, CAST(c * 100 AS BIGINT) FROM c
    UNION ALL
    SELECT c * 10 + 3, CAST(NULL AS BIGINT) FROM c
    """,
    doc="Reverse geocoding: tag each point with its SMALLEST containing "
    "admin polygon — the single most common OSM spatial-join workload "
    "('which county is this POI in').  Same reusable bbox-cover grid "
    "join as osm_admin_hierarchy (operators/measures."
    "point_in_polygon_join, 64° cells — polygons replicate to every "
    "cell their bbox overlaps, so a probe in a DIFFERENT cell than the "
    "polygon's first vertex still finds it; the single-cell keying this "
    "replaced would miss it), probing one point per nesting depth per "
    "country (inside a county → county; inside a state between "
    "counties → state; inside the country between states → country; "
    "open sea → NULL).  Bbox gate before the exact even-odd test; "
    "smallest |area| wins with id tiebreak.",
)
def osm_point_in_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import (
        point_in_polygon_join,
        shoelace_area_deg2,
    )
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    osm = _admin_fixture_osm(spark)
    pts_rows = []
    for c in range(_ADMIN_N_COUNTRIES):
        x0 = 1000.0 * c
        pts_rows += [
            (c * 10 + 0, x0 + 39.5, 7.5),   # in level-6 square (i=1, j=2)
            (c * 10 + 1, x0 + 47.0, 22.0),  # in level-4 (i=1), between level-6s
            (c * 10 + 2, x0 + 2.0, 50.0),   # in level-2 only
            (c * 10 + 3, x0 + 500.0, 50.0), # contained by nothing
        ]
    pts = spark.createDataFrame(pts_rows, "point_id long, px double, py double")

    coords = osm._build_ring_coords(osm._relation_kinds(line=False))
    polys = coords.select(
        col("rel_id").alias("p_rel"),
        col("coords").alias("p_coords"),
        F.abs(shoelace_area_deg2(col("coords"))).alias("p_area"),
    )
    cand = point_in_polygon_join(pts, polys, 64.0, ring_coords="p_coords")
    hits = cand.groupBy("point_id").agg(
        F.min(F.struct(col("p_area"), col("p_rel")))["p_rel"].alias("admin_rel")
    )
    return pts.select("point_id").join(hits, "point_id", "left").select(
        "point_id", "admin_rel"
    )


_LAKE_N = 4


@register(
    "osm_point_in_lake",
    oracle=f"""
    WITH c AS (SELECT UNNEST(generate_series(0, {_LAKE_N - 1})) AS c)
    SELECT c * 10 + 0 AS point_id, CAST(c * 2 AS BIGINT) AS geom_id FROM c
    UNION ALL
    SELECT c * 10 + 1, CAST(NULL AS BIGINT) FROM c
    UNION ALL
    SELECT c * 10 + 2, CAST(c * 2 + 1 AS BIGINT) FROM c
    UNION ALL
    SELECT c * 10 + 3, CAST(NULL AS BIGINT) FROM c
    """,
    doc="Reverse geocoding against HOLED multipolygons — the "
    "lake-with-an-island case single-ring containment gets wrong: each "
    "water body is an (outer + interiors) ring SET, even-odd composes "
    "by summing crossings across rings (operators/measures."
    "point_in_rings), so a point in the lake's hole is OUTSIDE the "
    "lake, and a point on the island (a separate geometry nested in "
    "the hole) attaches to the island only.  Same bbox-cover grid join "
    "(multi=True flattens rings for the bbox; 4° cells — every lake "
    "spans several, and the hole probe sits in a different cell than "
    "the outer's first vertex), smallest |outer|−Σ|holes| area wins "
    "with id tiebreak.  All coordinates exact binary fractions — "
    "verdicts engine-exact; the oracle states the closed-form "
    "assignments.",
)
def osm_point_in_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import (
        point_in_polygon_join,
        shoelace_area_deg2,
    )
    from osmdatapy_spark.session import tune_session

    tune_session(spark)
    geoms_rows, pts_rows = [], []
    for c in range(_LAKE_N):
        x0 = 100.0 * c
        lake = [
            [(x0, 0.0), (x0 + 10, 0.0), (x0 + 10, 10.0), (x0, 10.0)],
            [(x0 + 4, 4.0), (x0 + 6, 4.0), (x0 + 6, 6.0), (x0 + 4, 6.0)],
        ]
        island = [[(x0 + 4.5, 4.5), (x0 + 5.5, 4.5), (x0 + 5.5, 5.5), (x0 + 4.5, 5.5)]]
        geoms_rows += [(2 * c, lake), (2 * c + 1, island)]
        pts_rows += [
            (c * 10 + 0, x0 + 2.0, 2.0),   # in the lake's ring area
            (c * 10 + 1, x0 + 4.25, 5.0),  # in the HOLE: outside everything
            (c * 10 + 2, x0 + 5.0, 5.0),   # on the island (inside the hole)
            (c * 10 + 3, x0 + 20.0, 5.0),  # open water: nothing
        ]
    geoms = spark.createDataFrame(
        geoms_rows, "g_id long, rings array<array<struct<lon:double,lat:double>>>"
    )
    outer_area = F.abs(shoelace_area_deg2(F.element_at("rings", 1)))
    holes_area = F.aggregate(
        F.slice(col("rings"), 2, F.greatest(F.size("rings") - 1, F.lit(0))),
        F.lit(0.0),
        lambda acc, ring: acc + F.abs(shoelace_area_deg2(ring)),
    )
    geoms = geoms.select("g_id", "rings", (outer_area - holes_area).alias("g_area"))
    pts = spark.createDataFrame(pts_rows, "point_id long, px double, py double")
    cand = point_in_polygon_join(pts, geoms, 4.0, ring_coords="rings", multi=True)
    hits = cand.groupBy("point_id").agg(
        F.min(F.struct(col("g_area"), col("g_id")))["g_id"].alias("geom_id")
    )
    return pts.select("point_id").join(hits, "point_id", "left").select(
        "point_id", "geom_id"
    )


@register(
    "osm_integrity_report",
    oracle=f"""
    WITH {WAYS_CTE}, {NODES_CTE}, {WAY_TAGS_CTE},
    sizes AS (SELECT way_id, count(*) AS n FROM ways GROUP BY way_id),
    lagged AS (
      SELECT way_id, node_id,
             LAG(node_id) OVER (PARTITION BY way_id ORDER BY pos) AS prev
      FROM ways
    ),
    ends AS (
      SELECT DISTINCT way_id,
             FIRST_VALUE(node_id) OVER w AS src,
             LAST_VALUE(node_id) OVER w AS dst
      FROM ways
      WINDOW w AS (PARTITION BY way_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT 'way_refs_resolve' AS check_name,
           (SELECT count(*) FROM ways w LEFT JOIN nodes n ON w.node_id = n.osmid
            WHERE n.osmid IS NULL) AS n_violations,
           (SELECT count(*) FROM ways) AS n_checked
    UNION ALL
    SELECT 'degenerate_ways',
           (SELECT count(*) FROM sizes WHERE n < 2),
           (SELECT count(*) FROM sizes)
    UNION ALL
    SELECT 'duplicate_consecutive_refs',
           (SELECT count(*) FROM lagged WHERE node_id = prev),
           (SELECT count(*) FROM ways)
    UNION ALL
    SELECT 'unclosed_area_ways',
           (SELECT count(*) FROM ends e JOIN way_tags t ON t.osmid = e.way_id
            WHERE t.building IS NOT NULL AND e.src <> e.dst),
           (SELECT count(*) FROM ends e JOIN way_tags t ON t.osmid = e.way_id
            WHERE t.building IS NOT NULL)
    """,
    doc="Geometry/topology integrity report (the osmium check-refs / QA "
    "gate before publishing an extract): unresolvable node refs, "
    "degenerate <2-node ways, duplicate consecutive refs, area-tagged "
    "ways that don't close. Each check is an unhinted coords_lookup "
    "anti-join (AQE picks broadcast only when nodes fit) or a "
    "fold inside the ONE way_id exchange the checks share; the report is "
    "a union of tiny aggregates — the same distributed-QA shape as "
    "rel_data_contract_audit, applied to the OSM data model.",
)
def osm_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    refs = derived_way_refs(spark, sf_dir)
    nodes = derived_nodes(spark, sf_dir)
    tags = derived_way_elements(spark, sf_dir).select(
        col("osmid").alias("way_id"), F.element_at("tags", "building").alias("building")
    )

    # ONE ref-level pass feeds EVERY check (the rel_data_contract_audit
    # discipline, round 4): the unresolved-ref probe rides the refs scan
    # as an unhinted left join (null hit = violation — no separate
    # anti-join branch re-scanning refs), the lag window and the per-way
    # rollup share the way_id exchange, the tag attach joins once, and
    # the whole report collapses to one multi-aggregate row that is
    # checkpointed at the fork — report rows are literal projections.
    probed = coords_lookup(
        refs, nodes.select(col("osmid").alias("node_id"), lit(1).alias("_hit")), how="left"
    )
    w = Window.partitionBy("way_id").orderBy("pos")
    per_way = (
        probed.withColumn("prev", F.lag("node_id").over(w))
        .groupBy("way_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((col("node_id") == col("prev")).cast("int")).alias("dups"),
            F.sum(col("_hit").isNull().cast("int")).alias("missing"),
            F.min_by("node_id", "pos").alias("src"),
            F.max_by("node_id", "pos").alias("dst"),
        )
    )
    stats = (
        per_way.join(tags, "way_id", "left")
        .agg(
            F.coalesce(F.sum("n"), lit(0)).alias("n_refs"),
            F.count("*").alias("n_ways"),
            F.coalesce(F.sum("missing"), lit(0)).alias("unresolved"),
            F.sum((col("n") < 2).cast("long")).alias("degenerate"),
            F.coalesce(F.sum("dups"), lit(0)).alias("dup_refs"),
            F.sum(col("building").isNotNull().cast("long")).alias("area_n"),
            F.sum(
                (col("building").isNotNull() & (col("src") != col("dst"))).cast("long")
            ).alias("area_unclosed"),
        )
        .localCheckpoint()
    )

    def row(name: str, viol, total) -> DataFrame:
        return stats.select(
            lit(name).alias("check_name"),
            viol.cast("bigint").alias("n_violations"),
            total.cast("bigint").alias("n_checked"),
        )

    return (
        row("way_refs_resolve", col("unresolved"), col("n_refs"))
        .unionByName(row("degenerate_ways", col("degenerate"), col("n_ways")))
        .unionByName(row("duplicate_consecutive_refs", col("dup_refs"), col("n_refs")))
        .unionByName(row("unclosed_area_ways", col("area_unclosed"), col("area_n")))
    )


@register(
    "osm_tag_key_stats",
    oracle=f"""
    WITH {WAY_TAGS_CTE},
    u AS (
      SELECT 'area' AS key, area AS v FROM way_tags
      UNION ALL SELECT 'barrier', barrier FROM way_tags
      UNION ALL SELECT 'building', building FROM way_tags
      UNION ALL SELECT 'highway', highway FROM way_tags
      UNION ALL SELECT 'name', name FROM way_tags
      UNION ALL SELECT 'natural', "natural" FROM way_tags
      UNION ALL SELECT 'service', service FROM way_tags
      UNION ALL SELECT 'type', rel_type FROM way_tags
    )
    SELECT key, count(*) AS n_elements, count(DISTINCT v) AS n_values
    FROM u WHERE v IS NOT NULL GROUP BY key
    """,
    doc="Tag-key usage statistics — the taginfo workflow (how many "
    "elements carry each key, how many distinct values): explode the tags "
    "map to (key, value) pairs and partial-aggregate per key. The map "
    "explode happens scan-side, the distinct-count is the standard "
    "two-phase agg, and key cardinality is tiny — at planet scale this is "
    "the same one-pass profile taginfo.openstreetmap.org serves.",
)
def osm_tag_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    els = derived_way_elements(spark, sf_dir)
    kv = els.select(F.explode("tags").alias("key", "v"))
    return kv.groupBy("key").agg(
        F.count("*").alias("n_elements"),
        F.countDistinct("v").alias("n_values"),
    )


@register(
    "osm_node_degree_histogram",
    oracle=f"""
    WITH {WAYS_CTE},
    deg AS (
      SELECT node_id, count(DISTINCT way_id) AS degree FROM ways GROUP BY node_id
    )
    SELECT degree, count(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
    doc="Node-degree distribution of the way-membership graph (the "
    "junction-complexity profile of a road network; degree>=2 nodes are "
    "exactly the G10 topology split points): two nested partial "
    "aggregations — (node, distinct ways) then a tiny histogram rollup. "
    "The degree agg shares the node_id shuffle topology_segments already "
    "pays, and the histogram is ~10 groups — free at any scale.",
)
def osm_node_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # degree ignores member ORDER, so skip derived_way_refs' row_number
    # window entirely — (way, node) pairs come straight off the scan
    li = T(spark, sf_dir, "lineitem").select(
        col("l_partkey").alias("node_id"), col("l_orderkey").alias("way_id")
    )
    deg = li.groupBy("node_id").agg(F.countDistinct("way_id").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@register(
    "osm_renumber",
    oracle=f"""
    WITH {WAYS_CTE.strip()}, {NODES_CTE.strip()},
    nmap AS (
      SELECT osmid, CAST(ROW_NUMBER() OVER (ORDER BY osmid) AS BIGINT) AS new_id
      FROM nodes
    ),
    wmap AS (
      SELECT way_id, CAST(ROW_NUMBER() OVER (ORDER BY way_id) AS BIGINT) AS new_way_id
      FROM (SELECT DISTINCT way_id FROM ways)
    )
    SELECT wm.new_way_id, w.pos, nm.new_id AS new_node_id
    FROM ways w
    JOIN wmap wm ON wm.way_id = w.way_id
    JOIN nmap nm ON nm.osmid = w.node_id
    WHERE w.way_id % 20 = 0
    """,
    doc="Dense-id renumbering (the `osmium renumber` maintenance tool, "
    "absent from the reference): nodes and ways each get 1-based dense "
    "ids in ascending old-id order, and way membership rewrites through "
    "the node mapping — the full extract-renumber contract on a sampled "
    "way set.  Scalable shape (operators/enumerate.py): NO global "
    "window — approxQuantile bucket boundaries become a literal "
    "assignment expression, per-bucket counts (<= n_buckets driver "
    "rows) cumulate into broadcast start offsets, and ranks are "
    "bucket-local row_numbers plus the offset; the remap joins are "
    "plain unhinted equi-joins.  Deterministic under any partitioning "
    "(buckets/offsets are pure functions of the data).",
)
def osm_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.enumerate import dense_ids

    nodes = derived_nodes(spark, sf_dir)
    refs = derived_way_refs(spark, sf_dir).filter(col("way_id") % 20 == 0)
    nmap = dense_ids(nodes.select("osmid"), "osmid", out_col="new_id").select(
        col("osmid").alias("node_id"), "new_id"
    )
    wmap = dense_ids(
        derived_way_refs(spark, sf_dir).select("way_id").distinct(),
        "way_id",
        out_col="new_way_id",
    )
    return (
        refs.join(wmap, "way_id")
        .join(nmap, "node_id")
        .select("new_way_id", "pos", col("new_id").alias("new_node_id"))
    )
