"""Geometric-measure query suite (operators/measures.py) over the derived
OSM-shaped tables of suite/osm.py: polyline length, ring area, centroid,
and the grid-cell nearest-neighbor spatial join.

The reference computes measures downstream in geopandas after
materializing shapely objects (reference _frame.py:54-56 returns a
GeoDataFrame); here they are Column algebra directly over the gathered
``array<struct<lon,lat>>`` — same coordinate-gather shuffle as the WKT
constructors, zero extra passes.

Determinism: see operators/measures.py — exactly-rounded ops for
planar/area/centroid (no rounding guard), round-4 guard on haversine
(sin/cos are 1-ulp libraries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark.suite._util import T, coords_lookup

from osmdatapy_spark.operators.measures import (
    centroid,
    haversine_length_km,
    nearest_in_grid,
    planar_length_deg,
    shoelace_area_deg2,
)
from osmdatapy_spark.suite.osm import (
    NODES_CTE,
    WAY_TAGS_CTE,
    WAYS_CTE,
    derived_nodes,
    derived_way_refs,
)
from osmdatapy_spark.suite.registry import register

# shared coordinate gather: way_id -> array<struct<lon,lat>> in pos order
COORDS_CTE = f"""
{WAYS_CTE.strip()}, {NODES_CTE.strip()},
coords AS (
  SELECT w.way_id,
         list(struct_pack(lon := n.lon, lat := n.lat) ORDER BY w.pos) AS c
  FROM ways w JOIN nodes n ON w.node_id = n.osmid
  GROUP BY w.way_id
)
"""


def _way_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pos-window formulation, REINSTATED after a measured regression
    # (r13 §W): a window-free variant gathered with
    # array_sort(collect_list(struct(l_linenumber, node_id, lon, lat))) —
    # value-identical ordering, same ONE exchange in the plan — but ran
    # ~50% slower at clean-steal A/B (way_length 1.44 vs 2.26 s best):
    # the window's exchange is REUSED by the gather (final-mode
    # collect_list over co-partitioned input), while the window-free
    # shape pays ObjectHashAggregate partial+merge array building on
    # both sides of the same exchange.  Guide §1.1: the "ideal" plan
    # lost to the empirical loop.
    ways = derived_way_refs(spark, sf_dir)
    nodes = derived_nodes(spark, sf_dir).withColumnRenamed("osmid", "node_id")
    joined = coords_lookup(ways, nodes)
    return joined.groupBy("way_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))),
            lambda s: F.struct(s["lon"].alias("lon"), s["lat"].alias("lat")),
        ).alias("c")
    )


@register(
    "osm_way_length",
    oracle=f"""
    WITH {COORDS_CTE}
    SELECT way_id,
           coalesce(list_sum(list_transform(generate_series(1, len(c) - 1),
             i -> sqrt((c[i+1].lon - c[i].lon) * (c[i+1].lon - c[i].lon)
                     + (c[i+1].lat - c[i].lat) * (c[i+1].lat - c[i].lat)))), 0.0)
             AS len_deg,
           round(coalesce(list_sum(list_transform(generate_series(1, len(c) - 1),
             i -> 2 * 6371.0 * asin(sqrt(
                    sin(radians(c[i+1].lat - c[i].lat) / 2) * sin(radians(c[i+1].lat - c[i].lat) / 2)
                  + cos(radians(c[i].lat)) * cos(radians(c[i+1].lat))
                    * sin(radians(c[i+1].lon - c[i].lon) / 2) * sin(radians(c[i+1].lon - c[i].lon) / 2)
             )))), 0.0), 4) AS len_km
    FROM coords
    """,
    bench=True,
    doc="Per-way polyline length: planar degree-space (exactly-rounded ops, "
    "bit-identical cross-engine) next to great-circle haversine km "
    "(round-4 guard). Ordered left-fold over the gathered coordinate "
    "array — pipelines inside the same shuffle as WKT assembly; no UDF.",
)
def osm_way_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _way_coords(spark, sf_dir).select(
        "way_id",
        planar_length_deg(col("c")).alias("len_deg"),
        haversine_length_km(col("c")).alias("len_km"),
    )


@register(
    "osm_way_area",
    oracle=f"""
    WITH {COORDS_CTE}
    SELECT way_id,
           abs(coalesce(list_sum(list_transform(generate_series(1, len(list_append(c, c[1])) - 1),
             i -> list_append(c, c[1])[i].lon * list_append(c, c[1])[i+1].lat
                - list_append(c, c[1])[i+1].lon * list_append(c, c[1])[i].lat)), 0.0)) / 2
             AS area_deg2
    FROM coords
    """,
    doc="Shoelace ring area (squared degrees) with implicit closure — the "
    "measure the reference gets from geopandas .area after shapely "
    "materialization; here a pure ordered fold over the coordinate array "
    "(exactly-rounded ops, no rounding guard needed). Degenerate <3-vertex "
    "ways yield 0.",
)
def osm_way_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _way_coords(spark, sf_dir).select(
        "way_id", shoelace_area_deg2(col("c")).alias("area_deg2")
    )


@register(
    "osm_way_centroid",
    oracle=f"""
    WITH {COORDS_CTE}
    SELECT way_id,
           list_sum(list_transform(c, x -> x.lon)) / len(c) AS c_lon,
           list_sum(list_transform(c, x -> x.lat)) / len(c) AS c_lat
    FROM coords
    """,
    doc="Vertex centroid per way (mean of the coordinate sequence, "
    "duplicates counted). The synthetic grid coordinates are exactly "
    "representable (x.5 / x.25), so the sums are exact in any order and "
    "the division is exactly rounded — deterministic with no guard.",
)
def osm_way_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = _way_coords(spark, sf_dir)
    cx, cy = centroid(col("c"))
    return wc.select("way_id", cx.alias("c_lon"), cy.alias("c_lat"))


@register(
    "osm_nearest_node",
    oracle=f"""
    WITH {NODES_CTE.strip()},
    pois AS (
      SELECT osmid AS poi_id, lon, lat,
             CAST(floor(lon / 30.0) AS BIGINT) AS cx, CAST(floor(lat / 30.0) AS BIGINT) AS cy
      FROM nodes WHERE osmid % 97 = 0
    ),
    cands AS (
      SELECT osmid AS cand_id, lon, lat,
             CAST(floor(lon / 30.0) AS BIGINT) AS cx, CAST(floor(lat / 30.0) AS BIGINT) AS cy
      FROM nodes WHERE osmid % 53 = 0
    ),
    scored AS (
      SELECT p.poi_id, c.cand_id,
             (p.lon - c.lon) * (p.lon - c.lon) + (p.lat - c.lat) * (p.lat - c.lat) AS d2
      FROM pois p JOIN cands c
        ON c.cx BETWEEN p.cx - 1 AND p.cx + 1
       AND c.cy BETWEEN p.cy - 1 AND p.cy + 1
    ),
    ranked AS (
      SELECT poi_id, cand_id, d2,
             row_number() OVER (PARTITION BY poi_id ORDER BY d2, cand_id) AS rn
      FROM scored
    )
    SELECT poi_id, cand_id AS nearest_id, d2 AS dist_sq FROM ranked WHERE rn = 1
    """,
    doc="Grid-cell nearest-neighbor spatial join: POI nodes (osmid%97=0) "
    "to their nearest candidate node (osmid%53=0) within a 3×3 "
    "neighborhood of 30° cells. Probes explode ×9 and equi-join on the "
    "cell key — shuffle by cell, never probe × corpus; winner via "
    "min(struct(d2,id)), squared planar distance (exactly-rounded). "
    "POIs with an empty neighborhood drop (inner semantics); a probe "
    "that is also a candidate matches itself at d2=0.",
)
def osm_nearest_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    pois = nodes.filter(col("osmid") % 97 == 0).select(col("osmid").alias("poi_id"), "lon", "lat")
    cands = nodes.filter(col("osmid") % 53 == 0).select(
        col("osmid").alias("nearest_id"), "lon", "lat"
    )
    return nearest_in_grid(pois, cands, 30.0, probe_id="poi_id", cand_id="nearest_id")


# ---------------------------------------------------------------------------
# Point-in-polygon containment join
# ---------------------------------------------------------------------------

# way-derived polygon centers: pure integer arithmetic + 0.5.  Ring vertex
# jitter is <= 0.35° around the center, so against the 0.25° blocking grid
# below nearly EVERY ring spans multiple cells — the fixture exercises the
# bbox-cover replication path, not the ring-inside-one-cell special case
_CENTERS_CTE = """
centers AS (
  SELECT DISTINCT way_id,
         CAST((way_id % 360) - 180 + 0.5 AS DOUBLE) AS cx,
         CAST(((way_id // 360) % 170) - 85 + 0.5 AS DOUBLE) AS cy
  FROM ways
)
"""


@register(
    "osm_point_in_polygon",
    oracle=f"""
    WITH {WAYS_CTE.strip()}, {NODES_CTE.strip()}, {_CENTERS_CTE.strip()},
    verts AS (
      SELECT w.way_id, w.pos,
             c.cx + n.lon * 0.35 / 180 AS vx,
             c.cy + n.lat * 0.35 / 85 AS vy
      FROM ways w JOIN nodes n ON w.node_id = n.osmid JOIN centers c USING (way_id)
    ),
    rings AS (
      SELECT way_id, list(struct_pack(lon := vx, lat := vy) ORDER BY pos) AS c,
             min(vx) AS x0, max(vx) AS x1, min(vy) AS y0, max(vy) AS y1
      FROM verts GROUP BY way_id HAVING count(*) >= 3
    ),
    rc1 AS (
      SELECT *, UNNEST(generate_series(CAST(floor(x0 / 0.25) AS BIGINT),
                                       CAST(floor(x1 / 0.25) AS BIGINT))) AS cellx
      FROM rings
    ),
    rc AS (
      SELECT *, UNNEST(generate_series(CAST(floor(y0 / 0.25) AS BIGINT),
                                       CAST(floor(y1 / 0.25) AS BIGINT))) AS celly
      FROM rc1
    ),
    pts AS (
      SELECT o_orderkey AS point_id,
             CAST((o_orderkey % 360) - 180 + 0.5 AS DOUBLE)
               + ((o_custkey % 100) * CAST(0.006 AS DOUBLE) - CAST(0.3 AS DOUBLE)) AS px,
             CAST(((o_orderkey // 360) % 170) - 85 + 0.5 AS DOUBLE)
               + ((o_custkey % 80) * CAST(0.007 AS DOUBLE) - CAST(0.28 AS DOUBLE)) AS py
      FROM orders
    ),
    pairs AS (
      SELECT p.point_id, r.way_id, p.px, p.py, list_append(r.c, r.c[1]) AS cc
      FROM (SELECT *, CAST(floor(px / 0.25) AS BIGINT) AS cellx,
                      CAST(floor(py / 0.25) AS BIGINT) AS celly
            FROM pts) p
      JOIN rc r USING (cellx, celly)
      WHERE p.px BETWEEN r.x0 AND r.x1 AND p.py BETWEEN r.y0 AND r.y1
    ),
    crossed AS (
      SELECT point_id, way_id,
             CAST(coalesce(list_sum(list_transform(generate_series(1, len(cc) - 1),
               i -> CASE WHEN ((cc[i].lat > py) != (cc[i+1].lat > py))
                          AND (CASE WHEN cc[i+1].lat > cc[i].lat
                                    THEN (px - cc[i].lon) * (cc[i+1].lat - cc[i].lat)
                                       < (cc[i+1].lon - cc[i].lon) * (py - cc[i].lat)
                                    ELSE (px - cc[i].lon) * (cc[i+1].lat - cc[i].lat)
                                       > (cc[i+1].lon - cc[i].lon) * (py - cc[i].lat) END)
                    THEN 1 ELSE 0 END)), 0) AS BIGINT) AS crossings
      FROM pairs
    )
    SELECT point_id, way_id, crossings, crossings % 2 = 1 AS inside FROM crossed
    """,
    bench=True,
    doc="Point-in-polygon containment join (even-odd ray cast): order-derived "
    "probe points against way-derived rings via the reusable bbox-cover "
    "grid join (operators/measures.point_in_polygon_join) — each ring "
    "replicates to EVERY 0.25° cell its bbox overlaps (nearly every "
    "fixture ring spans several), points key to their single cell, and "
    "the cell equi-join + bbox gate is provably the pure bbox join, "
    "independent of cell size.  The join shuffles by cell key, never "
    "point × polygon; the exact test is a division-free crossing fold "
    "over the ring edges (only exactly-rounded IEEE ops — bit-identical "
    "cross-engine, no horizontal-edge divide-by-zero). The shape "
    "GeoSpark/Sedona use for planet-scale containment, in pure Column "
    "algebra.",
)
def osm_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark import memo
    from osmdatapy_spark.operators.measures import point_in_polygon_join
    from osmdatapy_spark.suite.osm import derived_nodes, derived_way_refs
    from osmdatapy_spark.suite._util import T

    # pos-window formulation, reinstated with _way_coords (r13 §W): the
    # window-free struct-sort gather was value-identical but measurably
    # slower — see _way_coords' comment.  Every projection is memoized
    # SQL (``memo.select``): one py4j call each on a warm build.
    ways = derived_way_refs(spark, sf_dir)
    nodes = derived_nodes(spark, sf_dir).withColumnRenamed("osmid", "node_id")
    cx = "CAST(((way_id % 360) - 180) + 0.5D AS DOUBLE)"
    cy = "CAST((((way_id div 360) % 170) - 85) + 0.5D AS DOUBLE)"
    verts = memo.select(
        coords_lookup(ways, nodes),
        "way_id",
        "pos",
        f"{cx} + ((lon * 0.35D) / 180) AS vx",
        f"{cy} + ((lat * 0.35D) / 85) AS vy",
    )
    rings = (
        verts.groupBy(memo.expr("way_id"))
        .agg(
            memo.expr(
                "transform(array_sort(collect_list(struct(pos, vx, vy))), "
                "__s -> struct(__s.vx AS lon, __s.vy AS lat)) AS c"
            )
        )
        .filter(memo.expr("size(c) >= 3"))
    )
    pts = memo.select(
        T(spark, sf_dir, "orders"),
        "o_orderkey AS point_id",
        "CAST(((o_orderkey % 360) - 180) + 0.5D AS DOUBLE)"
        " + (((o_custkey % 100) * 0.006D) - 0.3D) AS px",
        "CAST((((o_orderkey div 360) % 170) - 85) + 0.5D AS DOUBLE)"
        " + (((o_custkey % 80) * 0.007D) - 0.28D) AS py",
    )
    pairs = point_in_polygon_join(
        pts, rings, 0.25, ring_coords="c", crossings_col="crossings"
    )
    return memo.select(
        pairs, "point_id", "way_id", "crossings", "crossings % 2 = 1 AS inside"
    )


# ---------------------------------------------------------------------------
# Slippy-tile binning
# ---------------------------------------------------------------------------


@register(
    "osm_tile_binning",
    oracle=f"""
    WITH {NODES_CTE.strip()},
    t AS (
      SELECT osmid,
             CAST(floor(round((lon + 180.0) / 360.0, 9) * 64.0) AS BIGINT) AS xtile,
             CAST(floor(round((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
                              / 2.0, 9) * 64.0) AS BIGINT) AS ytile
      FROM nodes
    )
    SELECT xtile, ytile,
           CAST(((xtile >> 5) & 1) + 2 * ((ytile >> 5) & 1) AS VARCHAR)
        || CAST(((xtile >> 4) & 1) + 2 * ((ytile >> 4) & 1) AS VARCHAR)
        || CAST(((xtile >> 3) & 1) + 2 * ((ytile >> 3) & 1) AS VARCHAR)
        || CAST(((xtile >> 2) & 1) + 2 * ((ytile >> 2) & 1) AS VARCHAR)
        || CAST(((xtile >> 1) & 1) + 2 * ((ytile >> 1) & 1) AS VARCHAR)
        || CAST((xtile & 1) + 2 * (ytile & 1) AS VARCHAR) AS quadkey,
           CAST(count(*) AS BIGINT) AS n_nodes,
           min(osmid) AS min_osmid
    FROM t GROUP BY xtile, ytile
    """,
    doc="Web-mercator z6 tile binning + per-tile rollup with Bing quadkeys "
    "— THE partition key for planet-scale geodata (a tile is a "
    "self-contained work unit; quadkey prefixes are range-scannable "
    "subtrees, i.e. partition pruning at any zoom). One partial-aggregated "
    "shuffle; the mercator fraction carries a round-9 guard before floor "
    "so 1-ulp tan/ln drift cannot flip a tile.",
)
def osm_tile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import quadkey, slippy_tile
    from osmdatapy_spark.suite.osm import derived_nodes

    nodes = derived_nodes(spark, sf_dir)
    xt, yt = slippy_tile(col("lon"), col("lat"), 6)
    return (
        nodes.select("osmid", xt.alias("xtile"), yt.alias("ytile"))
        .groupBy("xtile", "ytile")
        .agg(F.count("*").alias("n_nodes"), F.min("osmid").alias("min_osmid"))
        .select(
            "xtile",
            "ytile",
            quadkey(col("xtile"), col("ytile"), 6).alias("quadkey"),
            "n_nodes",
            "min_osmid",
        )
    )


# ---------------------------------------------------------------------------
# Radial polyline simplification
# ---------------------------------------------------------------------------


@register(
    "osm_simplify_radial",
    oracle=f"""
    WITH RECURSIVE {WAYS_CTE.strip()}, {NODES_CTE.strip()},
    verts AS (
      SELECT w.way_id, w.pos, n.lon, n.lat
      FROM ways w JOIN nodes n ON w.node_id = n.osmid
    ),
    walk AS (
      SELECT way_id, pos, lon AS last_lon, lat AS last_lat,
             [struct_pack(lon := lon, lat := lat)] AS kept
      FROM verts WHERE pos = 1
      UNION ALL
      SELECT v.way_id, v.pos,
             CASE WHEN (v.lon - s.last_lon) * (v.lon - s.last_lon)
                     + (v.lat - s.last_lat) * (v.lat - s.last_lat) >= 900.0
                  THEN v.lon ELSE s.last_lon END,
             CASE WHEN (v.lon - s.last_lon) * (v.lon - s.last_lon)
                     + (v.lat - s.last_lat) * (v.lat - s.last_lat) >= 900.0
                  THEN v.lat ELSE s.last_lat END,
             CASE WHEN (v.lon - s.last_lon) * (v.lon - s.last_lon)
                     + (v.lat - s.last_lat) * (v.lat - s.last_lat) >= 900.0
                  THEN list_append(s.kept, struct_pack(lon := v.lon, lat := v.lat))
                  ELSE s.kept END
      FROM walk s JOIN verts v ON v.way_id = s.way_id AND v.pos = s.pos + 1
    ),
    final AS (
      SELECT w.way_id, w.pos AS n_in, w.kept
      FROM walk w JOIN (SELECT way_id, max(pos) AS mp FROM walk GROUP BY 1) l
        ON w.way_id = l.way_id AND w.pos = l.mp
    )
    SELECT way_id, CAST(n_in AS BIGINT) AS n_in, CAST(len(kept) AS BIGINT) AS n_kept,
           'LINESTRING (' || array_to_string(
             list_transform(kept, p -> printf('%.7f %.7f', p.lon, p.lat)), ', ') || ')' AS wkt
    FROM final
    """,
    doc="Radial-distance polyline simplification (eps = 30°, the O(n) "
    "vertex-decimation pre-pass render pipelines run before "
    "Douglas-Peucker). Inherently sequential per-way state, yet "
    "shuffle-free in Spark: an ordered F.aggregate fold with a "
    "(kept, last) struct accumulator riding the coordinate-gather stage. "
    "The oracle re-derives it as a DuckDB recursive CTE — an independent "
    "formulation of the same walk. All lattice arithmetic is "
    "exactly-rounded: bit-identical cross-engine.",
)
def osm_simplify_radial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.geometry import linestring_wkt
    from osmdatapy_spark.operators.measures import simplify_radial

    coords = _way_coords(spark, sf_dir)
    simplified = simplify_radial(col("c"), 30.0)
    return coords.select(
        "way_id",
        F.size("c").cast("bigint").alias("n_in"),
        F.size(simplified).cast("bigint").alias("n_kept"),
        linestring_wkt(simplified).alias("wkt"),
    )


@register(
    "osm_simplify_dp",
    bench=True,
    oracle=f"""
    WITH RECURSIVE {COORDS_CTE.strip()},
    splits(way_id, c, lo, hi) AS (
      SELECT way_id, c, CAST(1 AS BIGINT), CAST(len(c) AS BIGINT) FROM coords
      UNION ALL
      SELECT way_id, c, CAST(s.a AS BIGINT), CAST(s.b AS BIGINT) FROM (
        SELECT way_id, c,
               UNNEST([struct_pack(a := lo, b := k), struct_pack(a := k, b := hi)]) AS s
        FROM (
          SELECT way_id, c, lo, hi, l2,
                 list_max(mlist) AS best,
                 lo + list_position(mlist, list_max(mlist)) AS k
          FROM (
            SELECT way_id, c, lo, hi,
                   (c[hi].lon - c[lo].lon) * (c[hi].lon - c[lo].lon)
                 + (c[hi].lat - c[lo].lat) * (c[hi].lat - c[lo].lat) AS l2,
                   list_transform(generate_series(lo + 1, hi - 1), i ->
                     CASE WHEN (c[hi].lon - c[lo].lon) * (c[hi].lon - c[lo].lon)
                             + (c[hi].lat - c[lo].lat) * (c[hi].lat - c[lo].lat) = 0
                          THEN (c[i].lon - c[lo].lon) * (c[i].lon - c[lo].lon)
                             + (c[i].lat - c[lo].lat) * (c[i].lat - c[lo].lat)
                          ELSE ((c[i].lon - c[lo].lon) * (c[hi].lat - c[lo].lat)
                              - (c[i].lat - c[lo].lat) * (c[hi].lon - c[lo].lon))
                             * ((c[i].lon - c[lo].lon) * (c[hi].lat - c[lo].lat)
                              - (c[i].lat - c[lo].lat) * (c[hi].lon - c[lo].lon))
                     END) AS mlist
            FROM splits WHERE hi > lo + 1
          )
        ) WHERE best > CASE WHEN l2 = 0 THEN 400.0 ELSE 400.0 * l2 END
      )
    ),
    kept AS (
      -- DISTINCT over UNION ALL, not plain UNION: inside a WITH RECURSIVE
      -- clause DuckDB 1.0 treats a sibling CTE's UNION as non-deduping
      SELECT DISTINCT way_id, pos FROM (
        SELECT way_id, lo AS pos FROM splits
        UNION ALL
        SELECT way_id, hi FROM splits
      )
    )
    SELECT k.way_id,
           CAST(min(len(c.c)) AS BIGINT) AS n_in,
           CAST(count(*) AS BIGINT) AS n_kept,
           'LINESTRING (' || array_to_string(
             list(printf('%.7f %.7f', c.c[k.pos].lon, c.c[k.pos].lat)
                  ORDER BY k.pos), ', ') || ')' AS wkt
    FROM kept k JOIN coords c USING (way_id)
    GROUP BY k.way_id
    """,
    doc="Douglas-Peucker polyline simplification (tol = 20°) — the "
    "tolerance-based simplifier osm_simplify_radial is the documented "
    "pre-pass FOR: keep a vertex iff its perpendicular distance to its "
    "split's chord exceeds tol, recursing on the farthest such vertex. "
    "Division-free: the argmax compares cr² directly (shared chord "
    "length²) and the tolerance test is cr² > tol²·l2 — exactly-rounded "
    "IEEE only, ties to the FIRST max index, so verdicts are "
    "bit-identical cross-engine.  Spark: ONE Arrow-batched mapInPandas "
    "kernel over the coordinate gather (same shape as the ring kernels; "
    "per-way work bounded by way length), zero extra shuffle.  Oracle: "
    "an independent DuckDB recursive CTE over split intervals — each "
    "(lo,hi) fans out to (lo,k),(k,hi) via UNNEST while the max "
    "cross-product² clears the tolerance; kept = every interval "
    "endpoint ever seen.",
)
def osm_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.geometry import linestring_wkt
    from osmdatapy_spark.operators.measures import simplify_dp

    coords = _way_coords(spark, sf_dir)
    out = simplify_dp(coords, 20.0)
    return out.select(
        "way_id",
        "n_in",
        F.size("kept").cast("bigint").alias("n_kept"),
        linestring_wkt(col("kept")).alias("wkt"),
    )


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance over the way-adjacency graph
# ---------------------------------------------------------------------------


@register(
    "osm_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {WAYS_CTE.strip()}, {NODES_CTE.strip()},
    hop AS (
      SELECT a.node_id AS src, b.node_id AS dst
      FROM ways a JOIN ways b ON a.way_id = b.way_id AND b.pos = a.pos + 1
    ),
    edges AS (
      SELECT src, dst FROM hop UNION ALL SELECT dst, src FROM hop
    ),
    walk(node_id, hops) AS (
      SELECT osmid, 0 FROM nodes WHERE osmid % 997 = 0
      UNION
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.node_id
      WHERE w.hops < 3
    )
    SELECT node_id, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node_id
    """,
    doc="Multi-source BFS hop distance (<= 3 hops) over way adjacency — "
    "the k-hop neighborhood query (osmnx territory) distributed: edges "
    "from one lead() window over way_refs, then one join + one "
    "partial-agg min per level with lineage checkpoints; only "
    "newly-reached nodes expand, so per-level shuffle is frontier x "
    "degree, bounded by the node population. The oracle is an "
    "independent DuckDB recursive-CTE BFS (UNION-deduped levels).",
)
def osm_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from osmdatapy_spark.operators.graph import bfs_hops

    # consecutive-member edges straight off the base ordering — one Window
    # (derived_way_refs' pos window + a second lead-by-pos window would
    # cost an extra member-set sort; lead over the defining order is the
    # same neighbor)
    li = T(spark, sf_dir, "lineitem").select(
        col("l_orderkey").alias("way_id"),
        col("l_partkey").alias("node_id"),
        "l_linenumber",
    )
    w = Window.partitionBy("way_id").orderBy("l_linenumber", "node_id")
    edges = (
        li.select(col("node_id").alias("src"), F.lead("node_id").over(w).alias("dst"))
        .filter(col("dst").isNotNull())
    )
    seeds = derived_nodes(spark, sf_dir).filter(col("osmid") % 997 == 0).select(
        col("osmid").alias("node_id")
    )
    out = bfs_hops(edges, seeds, max_hops=3)
    return out.select("node_id", col("hops").cast("bigint").alias("hops"))


@register(
    "osm_hex_binning",
    oracle=f"""
    WITH {NODES_CTE.strip()},
    frac AS (
      SELECT osmid,
             (sqrt(3.0) / 3 * lon - lat / 3) / 3.0 AS fq,
             (2.0 * lat / 3) / 3.0 AS fr
      FROM nodes
    ),
    rounded AS (
      SELECT osmid, fq, fr, -fq - fr AS fs,
             round(fq, 0) AS rq, round(fr, 0) AS rr, round(-fq - fr, 0) AS rs
      FROM frac
    ),
    fixed AS (
      SELECT osmid,
             CAST(CASE WHEN abs(rq - fq) > abs(rr - fr) AND abs(rq - fq) > abs(rs - fs)
                       THEN -rr - rs ELSE rq END AS BIGINT) AS hq,
             CAST(CASE WHEN NOT (abs(rq - fq) > abs(rr - fr) AND abs(rq - fq) > abs(rs - fs))
                        AND abs(rr - fr) > abs(rs - fs)
                       THEN -rq - rs ELSE rr END AS BIGINT) AS hr
      FROM rounded
    )
    SELECT hq, hr, CAST(count(*) AS BIGINT) AS n_nodes, min(osmid) AS min_osmid
    FROM fixed GROUP BY 1, 2
    """,
    doc="Hexagonal spatial binning (H3-style, side 3°): axial-coordinate "
    "cells via cube rounding — squares' corner-neighbor bias gone, every "
    "neighbor equidistant. The fractional coords use only exactly-rounded "
    "IEEE ops (sqrt included), so unlike the mercator tiles NO round-guard "
    "is needed: both engines compute bit-identical cells. One "
    "partial-aggregated shuffle on the (hq, hr) key.",
)
def osm_hex_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import hex_cell
    from osmdatapy_spark.suite.osm import derived_nodes

    nodes = derived_nodes(spark, sf_dir)
    hq, hr = hex_cell(col("lon"), col("lat"), 3.0)
    return (
        nodes.select("osmid", hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count("*").alias("n_nodes"), F.min("osmid").alias("min_osmid"))
    )


@register(
    "osm_hex_density_smooth",
    oracle=f"""
    WITH {NODES_CTE.strip()},
    frac AS (
      SELECT osmid,
             (sqrt(3.0) / 3 * lon - lat / 3) / 3.0 AS fq,
             (2.0 * lat / 3) / 3.0 AS fr
      FROM nodes
    ),
    rounded AS (
      SELECT osmid, fq, fr, -fq - fr AS fs,
             round(fq, 0) AS rq, round(fr, 0) AS rr, round(-fq - fr, 0) AS rs
      FROM frac
    ),
    cells AS (
      SELECT CAST(CASE WHEN abs(rq - fq) > abs(rr - fr) AND abs(rq - fq) > abs(rs - fs)
                       THEN -rr - rs ELSE rq END AS BIGINT) AS hq,
             CAST(CASE WHEN NOT (abs(rq - fq) > abs(rr - fr) AND abs(rq - fq) > abs(rs - fs))
                        AND abs(rr - fr) > abs(rs - fs)
                       THEN -rq - rs ELSE rr END AS BIGINT) AS hr
      FROM rounded
    ),
    counts AS (SELECT hq, hr, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
    offsets AS (SELECT * FROM (VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1))
                AS t(dq, dr)),
    smeared AS (
      SELECT c.hq + o.dq AS hq, c.hr + o.dr AS hr, c.n
      FROM counts c CROSS JOIN offsets o
    )
    SELECT s.hq, s.hr,
           coalesce(c.n, 0) AS n_self,
           CAST(sum(s.n) AS BIGINT) AS n_hood,
           CAST(CAST(coalesce(c.n, 0) AS DOUBLE) / sum(s.n) AS DOUBLE) AS self_share
    FROM smeared s LEFT JOIN counts c ON c.hq = s.hq AND c.hr = s.hr
    GROUP BY s.hq, s.hr, c.n
    """,
    doc="Hex-lattice density smoothing (hotspot analysis): per-cell counts "
    "smeared over the 7-cell neighborhood (self + 6 equidistant "
    "neighbors — the property square grids lack) by exploding each count "
    "to its neighbors and re-aggregating. The smear is a constant 7-row "
    "broadcast-free fan-out of the COUNTS table (already tiny), never the "
    "point table; self_share = own/(neighborhood) flags isolated spikes "
    "vs broad plateaus. Two partial-agg exchanges total.",
)
def osm_hex_density_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import hex_cell
    from osmdatapy_spark.suite.osm import derived_nodes

    nodes = derived_nodes(spark, sf_dir)
    hq, hr = hex_cell(col("lon"), col("lat"), 3.0)
    counts = (
        nodes.select(hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count("*").alias("n"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in [(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]
        ]
    )
    smeared = counts.select(
        F.explode(offsets).alias("o"), "hq", "hr", "n"
    ).select(
        (col("hq") + col("o.dq")).alias("hq"),
        (col("hr") + col("o.dr")).alias("hr"),
        "n",
    )
    hood = smeared.groupBy("hq", "hr").agg(F.sum("n").alias("n_hood"))
    return (
        hood.join(counts, ["hq", "hr"], "left")
        .select(
            "hq",
            "hr",
            F.coalesce(col("n"), F.lit(0)).cast("bigint").alias("n_self"),
            col("n_hood").cast("bigint").alias("n_hood"),
            (F.coalesce(col("n"), F.lit(0)).cast("double") / col("n_hood")).alias(
                "self_share"
            ),
        )
    )


@register(
    "osm_way_compactness",
    oracle=f"""
    WITH {COORDS_CTE.strip()},
    m AS (
      SELECT way_id,
             abs(coalesce(list_sum(list_transform(generate_series(1, len(list_append(c, c[1])) - 1),
               i -> list_append(c, c[1])[i].lon * list_append(c, c[1])[i+1].lat
                  - list_append(c, c[1])[i+1].lon * list_append(c, c[1])[i].lat)), 0.0)) / 2
               AS area,
             coalesce(list_sum(list_transform(generate_series(1, len(list_append(c, c[1])) - 1),
               i -> sqrt((list_append(c, c[1])[i+1].lon - list_append(c, c[1])[i].lon)
                       * (list_append(c, c[1])[i+1].lon - list_append(c, c[1])[i].lon)
                       + (list_append(c, c[1])[i+1].lat - list_append(c, c[1])[i].lat)
                       * (list_append(c, c[1])[i+1].lat - list_append(c, c[1])[i].lat)))), 0.0)
               AS perim
      FROM coords WHERE len(c) >= 3
    )
    SELECT way_id, area, perim,
           CASE WHEN perim > 0
                THEN 4 * pi() * area / (perim * perim) ELSE 0.0 END AS compactness
    FROM m
    """,
    doc="Isoperimetric compactness 4*pi*A/P^2 per implicit ring (1.0 = "
    "circle, approaching 0 = degenerate sliver) — the standard shape "
    "index for building/parcel QA, here a pure composition of the "
    "shoelace-area and closed-perimeter folds inside the SAME coordinate "
    "gather: zero passes beyond the shared shuffle. Exactly-rounded ops "
    "plus one pi() constant — bit-identical cross-engine.",
)
def osm_way_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import planar_length_deg, shoelace_area_deg2

    coords = _way_coords(spark, sf_dir).filter(F.size("c") >= 3)
    closed = F.concat(col("c"), F.slice(col("c"), 1, 1))
    area = shoelace_area_deg2(col("c"))
    perim = planar_length_deg(closed)
    return coords.select(
        "way_id",
        area.alias("area"),
        perim.alias("perim"),
        F.when(perim > 0, 4 * lit(3.141592653589793) * area / (perim * perim))
        .otherwise(lit(0.0))
        .alias("compactness"),
    )


@register(
    "osm_bearing_rose",
    oracle=f"""
    WITH {COORDS_CTE.strip()},
    segs AS (
      SELECT way_id, c[i].lon AS x1, c[i].lat AS y1, c[i+1].lon AS x2, c[i+1].lat AS y2
      FROM coords, UNNEST(generate_series(1, len(c) - 1)) AS t(i)
    ),
    scored AS (
      SELECT CAST(floor(round(fmod(degrees(atan2(x2 - x1, y2 - y1)) + 360.0, 360.0), 6)
                        / 10.0) AS BIGINT) AS bin,
             CAST(round(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)), 6)
                  AS DECIMAL(18,6)) AS w
      FROM segs WHERE NOT (x1 = x2 AND y1 = y2)
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(w) AS DOUBLE) AS total_len
    FROM scored GROUP BY bin
    """,
    doc="LENGTH-WEIGHTED street-bearing rose (the osmnx city-orientation "
    "diagram) — the weighted companion to osm_bearing_histogram's plain "
    "segment counts: per-segment compass bearings binned at 10 degrees "
    "with total segment length per bin. (Round 3 registered both under "
    "one name; the dict overwrite silently shadowed this one — round 4 "
    "renamed it and made register() reject duplicates.) atan2 is a 1-ulp "
    "library, so the bearing carries a round-6 guard BEFORE the bin floor "
    "(the haversine discipline); lengths are exactly-rounded sqrt, summed "
    "in DECIMAL. Segment explode is narrow; ONE partial-agg exchange on "
    "36 keys.",
)
def osm_bearing_rose(spark: SparkSession, sf_dir: str) -> DataFrame:
    coords = _way_coords(spark, sf_dir)
    seg = coords.select(
        F.explode(
            F.zip_with(
                F.slice(col("c"), 1, F.size("c") - 1),
                F.slice(col("c"), 2, F.size("c") - 1),
                lambda a, b: F.struct(
                    a["lon"].alias("x1"), a["lat"].alias("y1"),
                    b["lon"].alias("x2"), b["lat"].alias("y2"),
                ),
            )
        ).alias("s")
    ).select("s.x1", "s.y1", "s.x2", "s.y2")
    seg = seg.filter(~((col("x1") == col("x2")) & (col("y1") == col("y2"))))
    bearing = F.round(
        F.pmod(F.degrees(F.atan2(col("x2") - col("x1"), col("y2") - col("y1"))) + 360.0, 360.0),
        6,
    )
    w = F.round(
        F.sqrt(
            (col("x2") - col("x1")) * (col("x2") - col("x1"))
            + (col("y2") - col("y1")) * (col("y2") - col("y1"))
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        seg.select(F.floor(bearing / 10.0).cast("bigint").alias("bin"), w.alias("w"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_segments"), F.sum("w").cast("double").alias("total_len"))
    )


@register(
    "osm_length_by_class",
    oracle=f"""
    WITH {COORDS_CTE}, {WAY_TAGS_CTE}
    , lens AS (
      SELECT way_id,
             round(coalesce(list_sum(list_transform(generate_series(1, len(c) - 1),
               i -> 2 * 6371.0 * asin(sqrt(
                      sin(radians(c[i+1].lat - c[i].lat) / 2) * sin(radians(c[i+1].lat - c[i].lat) / 2)
                    + cos(radians(c[i].lat)) * cos(radians(c[i+1].lat))
                      * sin(radians(c[i+1].lon - c[i].lon) / 2) * sin(radians(c[i+1].lon - c[i].lon) / 2)
               )))), 0.0), 4) AS len_km
      FROM coords
    )
    SELECT wt.highway AS highway_class,
           COUNT(*) AS n_ways,
           CAST(SUM(CAST(l.len_km AS DECIMAL(18,4))) AS DOUBLE) AS total_km
    FROM lens l JOIN way_tags wt ON wt.osmid = l.way_id
    WHERE wt.highway IS NOT NULL
    GROUP BY wt.highway
    """,
    doc="Network-length rollup per highway class — THE headline OSM "
    "analytics number (total km of road by class, the first table in any "
    "regional extract report). Haversine lengths fold inside the "
    "coordinate-gather shuffle, the tag join rides the way_id key, and "
    "the final rollup is a tiny partial-agg exchange on ~10 distinct "
    "classes. Per-way round-4 lengths sum in DECIMAL — order-free, "
    "bit-identical cross-engine.",
)
def osm_length_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.suite.osm import derived_way_elements

    lens = _way_coords(spark, sf_dir).select(
        "way_id", haversine_length_km(col("c")).alias("len_km")
    )
    els = (
        derived_way_elements(spark, sf_dir)
        .select(
            col("osmid").alias("way_id"),
            F.element_at("tags", "highway").alias("highway_class"),
        )
        .filter(col("highway_class").isNotNull())
    )
    return (
        lens.join(els, "way_id")
        .groupBy("highway_class")
        .agg(
            F.count("*").alias("n_ways"),
            F.sum(col("len_km").cast("decimal(18,4)")).cast("double").alias("total_km"),
        )
    )


@register(
    "osm_geojson_points",
    oracle="""
    WITH nodes AS (
  SELECT p_partkey AS osmid,
         CAST((p_partkey % 360) - 180 + 0.5 AS DOUBLE) AS lon,
         CAST((p_partkey % 170) - 85 + 0.25 AS DOUBLE) AS lat
  FROM part
), node_tags AS (
  SELECT p_partkey AS osmid,
    CASE p_partkey % 10 WHEN 0 THEN 'restaurant' WHEN 1 THEN 'cafe' END AS amenity,
    CASE WHEN p_partkey % 7 = 0 THEN 'bakery' END AS shop,
    CASE WHEN p_partkey % 9 = 0 THEN 'hotel' END AS tourism,
    CASE WHEN p_partkey % 3 = 0 THEN 'node-' || CAST(p_partkey AS VARCHAR) END AS name
  FROM part
)
    SELECT n.osmid,
           printf('{"type":"Feature","geometry":{"type":"Point","coordinates":[%.7f,%.7f]},"properties":{"osmid":%d,"amenity":"%s"}}',
                  n.lon, n.lat, n.osmid, t.amenity) AS feature
    FROM nodes n JOIN node_tags t USING (osmid)
    WHERE t.amenity IS NOT NULL
    """,
    doc="GeoJSON Feature export for point POIs — the sink surface a geo "
    "consumer ingests (RFC 7946; the reference serves a GeoDataFrame, "
    "_frame.py:54-56 — line-delimited GeoJSON is its cluster-native "
    "equivalent: each row a self-contained Feature string, any partition "
    "writable independently). Assembled by printf-style formatting "
    "(C-locale %.7f — deterministic cross-engine, ~1cm precision), zero "
    "shuffles beyond the broadcast tag attach; at scale this streams "
    "straight out of the scan into text files.",
)
def osm_geojson_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.suite.osm import derived_node_elements

    nodes = derived_nodes(spark, sf_dir)
    tags = (
        derived_node_elements(spark, sf_dir)
        .select("osmid", F.element_at("tags", "amenity").alias("amenity"))
        .filter(col("amenity").isNotNull())
    )
    tmpl = (
        '{"type":"Feature","geometry":{"type":"Point","coordinates":[%.7f,%.7f]},'
        '"properties":{"osmid":%d,"amenity":"%s"}}'
    )
    return nodes.join(tags, "osmid").select(
        "osmid",
        F.format_string(tmpl, col("lon"), col("lat"), col("osmid"), col("amenity")).alias(
            "feature"
        ),
    )


@register(
    "osm_bbox_clip",
    oracle=f"""
    WITH {COORDS_CTE.strip()},
    segs AS (
      SELECT way_id, s.i AS seg,
             c[s.i].lon AS ax, c[s.i].lat AS ay,
             c[s.i+1].lon AS bx, c[s.i+1].lat AS by
      FROM coords, (SELECT UNNEST(generate_series(1, 10000)) AS i) s
      WHERE s.i <= len(c) - 1
    ),
    lb AS (
      SELECT *, bx - ax AS dx, by - ay AS dy,
        CASE WHEN bx - ax > 0 THEN (-30.0 - ax) / (bx - ax)
             WHEN bx - ax < 0 THEN (40.0 - ax) / (bx - ax)
             WHEN ax >= -30.0 AND ax <= 40.0 THEN -1e18 ELSE 1e18 END AS tx_lo,
        CASE WHEN bx - ax > 0 THEN (40.0 - ax) / (bx - ax)
             WHEN bx - ax < 0 THEN (-30.0 - ax) / (bx - ax)
             WHEN ax >= -30.0 AND ax <= 40.0 THEN 1e18 ELSE -1e18 END AS tx_hi,
        CASE WHEN by - ay > 0 THEN (-20.0 - ay) / (by - ay)
             WHEN by - ay < 0 THEN (30.0 - ay) / (by - ay)
             WHEN ay >= -20.0 AND ay <= 30.0 THEN -1e18 ELSE 1e18 END AS ty_lo,
        CASE WHEN by - ay > 0 THEN (30.0 - ay) / (by - ay)
             WHEN by - ay < 0 THEN (-20.0 - ay) / (by - ay)
             WHEN ay >= -20.0 AND ay <= 30.0 THEN 1e18 ELSE -1e18 END AS ty_hi
      FROM segs
    ),
    t AS (
      SELECT *, greatest(0.0, tx_lo, ty_lo) AS t0, least(1.0, tx_hi, ty_hi) AS t1
      FROM lb
    )
    SELECT way_id, CAST(seg AS BIGINT) AS seg,
           round(ax + t0 * dx, 7) AS cx1, round(ay + t0 * dy, 7) AS cy1,
           round(ax + t1 * dx, 7) AS cx2, round(ay + t1 * dy, 7) AS cy2
    FROM t WHERE t0 <= t1
    """,
    doc="Bounding-box polyline clipping (Liang-Barsky parametric clip, "
    "the extract-by-bbox primitive the reference delegates to its "
    "downstream GIS): each way segment clips to [-30,40]x[-20,30] "
    "entirely in-row — parametric entry/exit via least/greatest chains "
    "over the four slab constraints, degenerate axis-parallel segments "
    "handled by +-1e18 sentinels, no joins and no shuffle beyond the "
    "shared coordinate gather.  Every op is exactly-rounded IEEE "
    "(+,-,*,/), so clipped coordinates are bit-identical cross-engine; "
    "round-7 is output tidiness, not a determinism guard.",
)
def osm_bbox_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    coords = _way_coords(spark, sf_dir)
    segs = coords.select(
        "way_id",
        F.posexplode(
            # sequence(1, 0) DESCENDS in Spark — short-circuit single-point
            # ways to an empty segment list (the char_kgrams guard)
            F.when(
                F.size("c") >= 2,
                F.transform(
                    F.sequence(lit(1), F.size("c") - 1),
                    lambda i: F.struct(
                        F.element_at("c", i)["lon"].alias("ax"),
                        F.element_at("c", i)["lat"].alias("ay"),
                        F.element_at("c", i + 1)["lon"].alias("bx"),
                        F.element_at("c", i + 1)["lat"].alias("by"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<ax:double,ay:double,bx:double,by:double>>")
            )
        ).alias("pos", "s"),
    ).select(
        "way_id",
        (col("pos") + 1).cast("long").alias("seg"),
        col("s.ax").alias("ax"),
        col("s.ay").alias("ay"),
        col("s.bx").alias("bx"),
        col("s.by").alias("by"),
    )
    from osmdatapy_spark.operators.measures import clip_segment_bbox

    dx, dy = col("bx") - col("ax"), col("by") - col("ay")
    t0, t1 = clip_segment_bbox(
        col("ax"), col("ay"), col("bx"), col("by"), -30.0, 40.0, -20.0, 30.0
    )
    return (
        segs.withColumn("t0", t0)
        .withColumn("t1", t1)
        .filter(col("t0") <= col("t1"))
        .select(
            "way_id",
            "seg",
            F.round(col("ax") + col("t0") * dx, 7).alias("cx1"),
            F.round(col("ay") + col("t0") * dy, 7).alias("cy1"),
            F.round(col("ax") + col("t1") * dx, 7).alias("cx2"),
            F.round(col("ay") + col("t1") * dy, 7).alias("cy2"),
        )
    )


@register(
    "osm_tile_pyramid",
    oracle=f"""
    WITH {NODES_CTE.strip()},
    t AS (
      SELECT CAST(floor(round((lon + 180.0) / 360.0, 9) * 64.0) AS BIGINT) AS xtile,
             CAST(floor(round((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
                              / 2.0, 9) * 64.0) AS BIGINT) AS ytile
      FROM nodes
    ),
    z6 AS (SELECT xtile, ytile, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY xtile, ytile),
    pyramid AS (
      SELECT z.z AS zoom, xtile >> (6 - z.z) AS x, ytile >> (6 - z.z) AS y, n
      FROM z6, (SELECT UNNEST(generate_series(0, 6)) AS z) z
    )
    -- SUM(BIGINT) is HUGEINT in DuckDB (pandas float64): cast back so
    -- the driver's value hash sees int64 like the Spark side
    SELECT CAST(zoom AS BIGINT) AS zoom, x, y, CAST(SUM(n) AS BIGINT) AS n_nodes
    FROM pyramid GROUP BY zoom, x, y
    """,
    doc="Tile-pyramid rollup (zooms 6→0) — the aggregation every map/"
    "analytics tile service precomputes: the finest zoom aggregates ONCE "
    "from the point stream (the only fact-sized exchange), then all "
    "coarser zooms derive from the z6 TILE TABLE by bit-shift explode — "
    "7 rows per tile, vocabulary-sized, so the pyramid costs one more "
    "tiny partial-agg pass instead of 7 passes over the points.  Exact "
    "integer shift arithmetic; the mercator fraction reuses the round-9 "
    "guard.",
)
def osm_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.operators.measures import slippy_tile
    from osmdatapy_spark.suite.osm import derived_nodes

    nodes = derived_nodes(spark, sf_dir)
    xt, yt = slippy_tile(col("lon"), col("lat"), 6)
    z6 = (
        nodes.select(xt.alias("xtile"), yt.alias("ytile"))
        .groupBy("xtile", "ytile")
        .agg(F.count("*").alias("n"))
    )
    pyramid = z6.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        lit(z).cast("long").alias("zoom"),
                        F.shiftright(col("xtile"), 6 - z).alias("x"),
                        F.shiftright(col("ytile"), 6 - z).alias("y"),
                    )
                    for z in range(7)
                ]
            )
        ).alias("p"),
        "n",
    ).select("p.zoom", "p.x", "p.y", "n")
    return pyramid.groupBy("zoom", "x", "y").agg(F.sum("n").alias("n_nodes"))


# ---------------------------------------------------------------------------
# Map matching: GPS points -> nearest way SEGMENT (point-to-segment)
# ---------------------------------------------------------------------------


@register(
    "osm_map_match",
    bench=True,
    oracle=f"""
    WITH {WAYS_CTE.strip()}, {NODES_CTE.strip()},
    seg AS (
      SELECT a.way_id, a.pos AS seg,
             na.lon AS x1, na.lat AS y1, nb.lon AS x2, nb.lat AS y2
      FROM ways a
      JOIN ways b ON b.way_id = a.way_id AND b.pos = a.pos + 1
      JOIN nodes na ON na.osmid = a.node_id
      JOIN nodes nb ON nb.osmid = b.node_id
    ),
    segcells AS (
      SELECT DISTINCT way_id, seg, x1, y1, x2, y2, cx, cy FROM (
        SELECT *, CAST(floor(x1 / 15.0) AS BIGINT) AS cx,
                  CAST(floor(y1 / 15.0) AS BIGINT) AS cy FROM seg
        UNION
        SELECT *, CAST(floor(x2 / 15.0) AS BIGINT),
                  CAST(floor(y2 / 15.0) AS BIGINT) FROM seg
      )
    ),
    gps AS (
      SELECT osmid AS probe_id, lon AS px, lat AS py,
             CAST(floor(lon / 15.0) AS BIGINT) AS cx,
             CAST(floor(lat / 15.0) AS BIGINT) AS cy
      FROM nodes WHERE osmid % 97 = 0
    ),
    scored AS (
      SELECT g.probe_id, s.way_id, s.seg,
             LEAST(GREATEST(
               CASE WHEN (s.x2-s.x1)*(s.x2-s.x1) + (s.y2-s.y1)*(s.y2-s.y1) = 0
                    THEN 0.0
                    ELSE ((g.px-s.x1)*(s.x2-s.x1) + (g.py-s.y1)*(s.y2-s.y1))
                         / ((s.x2-s.x1)*(s.x2-s.x1) + (s.y2-s.y1)*(s.y2-s.y1)) END,
               0.0), 1.0) AS t
      FROM gps g JOIN segcells s
        ON s.cx BETWEEN g.cx - 1 AND g.cx + 1
       AND s.cy BETWEEN g.cy - 1 AND g.cy + 1
    ),
    dist AS (
      SELECT sc.probe_id, sc.way_id, sc.seg, sc.t,
             (g.px - (s.x1 + sc.t*(s.x2-s.x1))) * (g.px - (s.x1 + sc.t*(s.x2-s.x1)))
           + (g.py - (s.y1 + sc.t*(s.y2-s.y1))) * (g.py - (s.y1 + sc.t*(s.y2-s.y1))) AS d2
      FROM scored sc
      JOIN gps g ON g.probe_id = sc.probe_id
      JOIN (SELECT DISTINCT way_id, seg, x1, y1, x2, y2 FROM segcells) s
        ON s.way_id = sc.way_id AND s.seg = sc.seg
    ),
    ranked AS (
      SELECT probe_id, way_id, seg, t, d2,
             row_number() OVER (PARTITION BY probe_id ORDER BY d2, way_id, seg) AS rn
      FROM dist
    )
    SELECT probe_id, way_id, CAST(seg AS BIGINT) AS seg, t, d2
    FROM ranked WHERE rn = 1
    """,
    doc="Map matching (GPS point -> nearest way SEGMENT): the step beyond "
    "osm_nearest_node that real trace-snapping needs — distance is to the "
    "segment INTERIOR via the clamped projection t = clamp(dot/len2, 0, 1) "
    "and foot-of-perpendicular, not to vertices, so a point alongside a "
    "long straight road snaps correctly even when both endpoints are far. "
    "Every op in t/d2 is exactly-rounded IEEE (+,-,*,/ and clamp): "
    "bit-identical cross-engine with NO round guard.  Shape: segments "
    "index under the distinct grid cells of their endpoints, probes "
    "explode 3x3 and equi-join on the cell key (shuffle by cell, never "
    "probe x segments), winner via one min-election under the (d2, "
    "way_id, seg) total order.  At 100 TB cell_deg is the per-cell-load "
    "knob and hot urban cells are AQE skew territory — same discipline "
    "as osm_point_in_polygon.",
)
def osm_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # seg (= pos) and lead(node_id) FUSED into one Window node over the
    # base ordering: composing derived_way_refs' row_number window with a
    # second lead-window ordered by pos costs a second sort of the member
    # set (same exchange, different sort key expression); ordering both by
    # (l_linenumber, node_id) makes them one Window with one sort, and
    # row_number over the identical partition/order keeps seg's values
    li = T(spark, sf_dir, "lineitem").select(
        col("l_orderkey").alias("way_id"),
        col("l_partkey").alias("node_id"),
        "l_linenumber",
    )
    nodes = derived_nodes(spark, sf_dir)
    w = Window.partitionBy("way_id").orderBy("l_linenumber", "node_id")
    seg = (
        li.select(
            "way_id",
            F.row_number().over(w).alias("seg"),
            col("node_id").alias("src"),
            F.lead("node_id").over(w).alias("dst"),
        )
        .filter(col("dst").isNotNull())
    )
    na = nodes.select(col("osmid").alias("src"), col("lon").alias("x1"), col("lat").alias("y1"))
    nb = nodes.select(col("osmid").alias("dst"), col("lon").alias("x2"), col("lat").alias("y2"))
    segs = coords_lookup(coords_lookup(seg, na, "src"), nb, "dst").drop("src", "dst")
    cell = lambda x, y: F.struct(  # noqa: E731
        F.floor(x / 15.0).cast("long").alias("cx"), F.floor(y / 15.0).cast("long").alias("cy")
    )
    segcells = (
        segs.select(
            "way_id", "seg", "x1", "y1", "x2", "y2",
            F.explode(F.array_distinct(F.array(
                cell(col("x1"), col("y1")), cell(col("x2"), col("y2"))
            ))).alias("c"),
        )
        .select("way_id", "seg", "x1", "y1", "x2", "y2", col("c.cx").alias("cx"), col("c.cy").alias("cy"))
    )
    gps = nodes.filter(col("osmid") % 97 == 0).select(
        col("osmid").alias("probe_id"),
        col("lon").alias("px"),
        col("lat").alias("py"),
        cell(col("lon"), col("lat")).alias("pc"),
    )
    probes = gps.select(
        "probe_id", "px", "py",
        F.explode(F.flatten(F.array(*[
            F.array(F.struct(
                (col("pc.cx") + dx).alias("cx"), (col("pc.cy") + dy).alias("cy")
            ))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ]))).alias("c"),
    ).select("probe_id", "px", "py", col("c.cx").alias("cx"), col("c.cy").alias("cy"))
    j = probes.join(segcells, ["cx", "cy"])
    dx, dy = col("x2") - col("x1"), col("y2") - col("y1")
    l2 = dx * dx + dy * dy
    t_raw = F.when(l2 == 0, lit(0.0)).otherwise(
        ((col("px") - col("x1")) * dx + (col("py") - col("y1")) * dy) / l2
    )
    t = F.least(F.greatest(t_raw, lit(0.0)), lit(1.0))
    qx, qy = col("x1") + col("t") * dx, col("y1") + col("t") * dy
    d2 = (col("px") - qx) * (col("px") - qx) + (col("py") - qy) * (col("py") - qy)
    scored = j.withColumn("t", t).withColumn("d2", d2)
    best = scored.groupBy("probe_id").agg(
        F.min(
            F.struct(
                col("d2").alias("d2"), col("way_id").alias("way_id"),
                col("seg").alias("seg"), col("t").alias("t"),
            )
        ).alias("m")
    )
    return best.select(
        "probe_id",
        col("m.way_id").alias("way_id"),
        col("m.seg").cast("long").alias("seg"),
        col("m.t").alias("t"),
        col("m.d2").alias("d2"),
    )


# ---------------------------------------------------------------------------
# Grid-density spatial clustering (DBSCAN-lite over dense cells)
# ---------------------------------------------------------------------------


@register(
    "osm_grid_clusters",
    oracle=f"""
    WITH RECURSIVE {NODES_CTE.strip()},
    cells AS (
      SELECT CAST(floor(lon / 15.0) AS BIGINT) AS cx,
             CAST(floor(lat / 15.0) AS BIGINT) AS cy,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM nodes GROUP BY 1, 2
    ),
    dense AS (
      SELECT (cx + 18) * 1000 + (cy + 9) AS cell_id, cx, cy, n_points
      FROM cells WHERE n_points >= 4
    ),
    adj AS (
      SELECT a.cell_id AS src, b.cell_id AS dst
      FROM dense a JOIN dense b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.cell_id <> b.cell_id
    ),
    cc(a, b) AS (
      SELECT cell_id, cell_id FROM dense
      UNION
      SELECT cc.a, s.dst FROM cc JOIN adj s ON cc.b = s.src
    ),
    lbl AS (SELECT a AS cell_id, MIN(b) AS cluster FROM cc GROUP BY a)
    SELECT l.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(d.n_points) AS BIGINT) AS n_points
    FROM lbl l JOIN dense d USING (cell_id)
    GROUP BY l.cluster
    """,
    doc="Grid-density spatial clustering (DBSCAN-lite): cells with >= "
    "minPts nodes are 'dense', adjacent dense cells (8-neighborhood) "
    "merge into clusters — the distributed formulation of density "
    "clustering every geo pipeline uses when true DBSCAN's eps-graph is "
    "too expensive (grid cells ARE the eps neighborhoods, off by at most "
    "one cell diagonal).  Shape: one partial-agg cell count is the ONLY "
    "node-volume exchange at any data scale; the dense-cell table is "
    "then BOUNDED BY THE GRID, not the data — 15-degree cells tile the "
    "earth in 24x12 = at most 288 rows no matter how many input points — "
    "so the connectivity closure is a driver-side union-find over a "
    "collected fixed-size table (the k-means-centroid collect pattern; "
    "round 3 iterated a 60-round distributed min-label loop here, ~4s of "
    "pure scheduling for <=288 rows) and the labels rejoin as a literal "
    "mapping.  A data-sized graph keeps the distributed loop: see "
    "osm_network_components.  The oracle replays via recursive closure.",
)
def osm_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    cells = nodes.groupBy(
        F.floor(col("lon") / 15.0).cast("long").alias("cx"),
        F.floor(col("lat") / 15.0).cast("long").alias("cy"),
    ).agg(F.count("*").cast("long").alias("n_points"))
    dense = cells.filter(col("n_points") >= 4).withColumn(
        "cell_id", (col("cx") + 18) * 1000 + (col("cy") + 9)
    )
    # grid-bounded collect: <=288 (cx, cy, n_points) rows at ANY sf
    rows = dense.select("cell_id", "cx", "cy", "n_points").collect()
    by_xy = {(r["cx"], r["cy"]): r["cell_id"] for r in rows}
    parent = {cid: cid for cid in by_xy.values()}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (cx, cy), cid in by_xy.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = by_xy.get((cx + dx, cy + dy))
                if nb is not None and nb != cid:
                    ra, rb = find(cid), find(nb)
                    if ra != rb:
                        # min-root union keeps the oracle's MIN(label) id
                        parent[max(ra, rb)] = min(ra, rb)
    mapping = [(cid, find(cid)) for cid in by_xy.values()]
    lbl_map = spark.createDataFrame(mapping, "cell_id long, cluster long")
    lbl = dense.join(F.broadcast(lbl_map), "cell_id").select("cluster", "n_points")
    return lbl.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("n_points").cast("long").alias("n_points"),
    )


# ---------------------------------------------------------------------------
# GeoJSON LineString export (the way-geometry face of osm_geojson_points)
# ---------------------------------------------------------------------------


@register(
    "osm_geojson_lines",
    oracle=f"""
    WITH {COORDS_CTE.strip()}
    SELECT way_id,
           '{{"type":"Feature","geometry":{{"type":"LineString","coordinates":['
           || array_to_string(list_transform(c, p -> printf('[%.7f,%.7f]', p.lon, p.lat)), ',')
           || ']}},"properties":{{"way_id":' || CAST(way_id AS VARCHAR) || '}}}}' AS feature
    FROM coords
    WHERE len(c) >= 2
    """,
    doc="GeoJSON LineString Feature export for ways (RFC 7946) — the "
    "line-geometry sibling of osm_geojson_points: each way's gathered "
    "coordinate array formats to a self-contained line-delimited Feature "
    "via array transform + printf (C-locale %.7f, deterministic "
    "cross-engine), so any partition writes independently — the "
    "cluster-native form of the reference's GeoDataFrame hand-off.  "
    "Rides the SAME coordinate-gather exchange as the WKT constructors "
    "and measures (one way_id groupBy); degenerate <2-point ways drop "
    "per the reference's min-2-point rule (P9).",
)
def osm_geojson_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = _way_coords(spark, sf_dir).filter(F.size("c") >= 2)
    coords_json = F.concat(
        lit("["),
        F.array_join(
            F.transform(
                col("c"), lambda p: F.format_string("[%.7f,%.7f]", p["lon"], p["lat"])
            ),
            ",",
        ),
        lit("]"),
    )
    return wc.select(
        "way_id",
        F.concat(
            lit('{"type":"Feature","geometry":{"type":"LineString","coordinates":'),
            coords_json,
            lit('},"properties":{"way_id":'),
            col("way_id").cast("string"),
            lit("}}"),
        ).alias("feature"),
    )


# ---------------------------------------------------------------------------
# Spatial k-means (settlement clustering) — the ANN quantizer reused on geo
# ---------------------------------------------------------------------------


@register(
    "osm_settlement_clusters",
    oracle="""
    WITH v AS (
      SELECT osmid AS vec_id, [CAST(lon AS DOUBLE), CAST(lat AS DOUBLE)] AS v
      FROM (
        SELECT p_partkey AS osmid,
               CAST((p_partkey % 360) - 180 + 0.5 AS DOUBLE) AS lon,
               CAST((p_partkey % 170) - 85 + 0.25 AS DOUBLE) AS lat
        FROM part
      )
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM v ORDER BY vec_id LIMIT 6
    ),
    a1 AS (
      SELECT vec_id, cell FROM (
        SELECT x.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round(list_sum(list_transform(generate_series(1, len(x.v)),
                          i -> (x.v[i] - s.v[i]) * (x.v[i] - s.v[i]))), 6), s.cell
               ) AS rn
        FROM v x CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    comps AS (
      SELECT a1.cell,
             UNNEST(generate_series(1, len(x.v))) AS idx,
             UNNEST(x.v) AS val
      FROM v x JOIN a1 USING (vec_id)
    ),
    m AS (
      SELECT cell, idx,
             CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cval
      FROM comps GROUP BY cell, idx
    ),
    cents AS (
      SELECT s.cell,
             CASE WHEN COUNT(m.cval) > 0 THEN list(m.cval ORDER BY m.idx)
                  ELSE ANY_VALUE(s.v) END AS v
      FROM seeds s LEFT JOIN m ON m.cell = s.cell
      GROUP BY s.cell
    ),
    a2 AS (
      SELECT vec_id, cell FROM (
        SELECT x.vec_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round(list_sum(list_transform(generate_series(1, len(x.v)),
                          i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i]))), 6), c.cell
               ) AS rn
        FROM v x CROSS JOIN cents c
      ) WHERE rn = 1
    )
    SELECT a2.cell AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           round(CAST(SUM(CAST(x.v[1] AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS c_lon,
           round(CAST(SUM(CAST(x.v[2] AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS c_lat
    FROM a2 JOIN v x USING (vec_id)
    GROUP BY a2.cell
    """,
    doc="Spatial k-means settlement clustering — the ANN coarse quantizer "
    "(functions/similarity.kmeans_centroids: deterministic seeded Lloyd, "
    "rounded-L2 assignment, exact DECIMAL means) REUSED on 2-d lon/lat "
    "vectors: cluster nodes into k=6 'settlements' and report each "
    "cluster's population and exact-decimal centroid.  Same scale story "
    "as IVF — training is k x 2 aggregates, assignment a zero-shuffle "
    "literal-centroid projection, the report one partial-agg exchange.  "
    "The oracle replays the whole Lloyd iteration bit-for-bit, proving "
    "the quantizer is domain-agnostic (embeddings or coordinates).",
)
def osm_settlement_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark.functions.artifacts import train_once
    from osmdatapy_spark import memo
    from osmdatapy_spark.functions.similarity import kmeans_centroids, nearest_cell_sql

    nodes = derived_nodes(spark, sf_dir)
    vecs = nodes.select(
        col("osmid").alias("vec_id"),
        F.array(col("lon").cast("double"), col("lat").cast("double")).alias("embedding"),
    )
    cents = train_once(
        (sf_dir, "settlement_centroids", 6, 1),
        lambda: kmeans_centroids(vecs, "vec_id", "embedding", k=6, iters=1),
    )
    assigned = vecs.select(
        "vec_id",
        col("embedding").alias("v"),
        # literal-centroid assignment via memoized SQL parse (similarity.py
        # builders)
        memo.expr(nearest_cell_sql("`embedding`", cents)).alias("cluster"),
    )
    return assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.round(
            F.sum(F.element_at("v", 1).cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("c_lon"),
        F.round(
            F.sum(F.element_at("v", 2).cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("c_lat"),
    )


# ---------------------------------------------------------------------------
# Round 4: polygon extract (osmium extract --polygon parity)
# ---------------------------------------------------------------------------

# concave 8-point star-ish clip region over the derived coordinate plane —
# literal in BOTH engines, so containment is bit-identical
_CLIP_POLY = [
    (-150.0, -60.0), (0.0, -70.0), (150.0, -60.0), (60.0, 0.0),
    (150.0, 60.0), (0.0, 30.0), (-150.0, 60.0), (-60.0, 0.0),
]


def _clip_oracle() -> str:
    ring = _CLIP_POLY + [_CLIP_POLY[0]]
    cases = []
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        cmp_op = "<" if by > ay else ">"
        cases.append(
            f"CASE WHEN (({ay!r} > lat) != ({by!r} > lat)) AND "
            f"((lon - {ax!r}) * ({by!r} - {ay!r}) {cmp_op} ({bx!r} - {ax!r}) * (lat - {ay!r})) "
            f"THEN 1 ELSE 0 END"
        )
    crossings = " + ".join(cases)
    return f"""
    WITH {WAYS_CTE.strip()}, {NODES_CTE.strip()},
    inside AS (
      SELECT osmid FROM nodes WHERE ({crossings}) % 2 = 1
    ),
    kept_ways AS (
      SELECT w.way_id AS osmid, CAST(1 AS INTEGER) AS osmtype,
             CAST(count(i.osmid) AS BIGINT) AS n_inside
      FROM ways w LEFT JOIN inside i ON i.osmid = w.node_id
      GROUP BY w.way_id HAVING count(i.osmid) >= 1
    )
    SELECT osmid, CAST(0 AS INTEGER) AS osmtype, CAST(1 AS BIGINT) AS n_inside
    FROM inside
    UNION ALL
    SELECT * FROM kept_ways
    """


@register(
    "osm_polygon_extract",
    oracle=_clip_oracle(),
    doc="Polygon extract (`osmium extract --polygon` parity; the "
    "reference clips by nothing — bbox clipping exists as osm_bbox_clip, "
    "this is the arbitrary-polygon upgrade): nodes keep when inside a "
    "CONCAVE literal clip ring (division-free even-odd ray cast, "
    "operators/measures.point_in_ring — exactly-rounded IEEE ops, "
    "bit-identical cross-engine), and ways keep when >=1 member node "
    "survives (the simple extract strategy), reporting the surviving "
    "member count.  Shape: node containment is a SCAN-STAGE filter "
    "(the ring is a literal — zero shuffle at any scale), the way keep "
    "is one unhinted semi-ish left join + partial-agg count on way_id.",
)
def osm_polygon_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmdatapy_spark import memo
    from osmdatapy_spark.operators.measures import point_in_ring
    from osmdatapy_spark.suite.osm import derived_way_refs as _refs

    ring = "array(%s)" % ", ".join(
        f"struct({memo.dlit(x)} AS lon, {memo.dlit(y)} AS lat)" for x, y in _CLIP_POLY
    )
    nodes = derived_nodes(spark, sf_dir)
    inside = nodes.filter(point_in_ring(ring, "lon", "lat")).select("osmid")
    kept_nodes = inside.select(
        "osmid", lit(0).cast("int").alias("osmtype"), lit(1).cast("long").alias("n_inside")
    )
    refs = _refs(spark, sf_dir)
    kept_ways = (
        coords_lookup(refs, inside.select(col("osmid").alias("node_id"), lit(1).alias("_in")), how="left")
        .groupBy("way_id")
        .agg(F.sum(F.coalesce(col("_in"), lit(0))).cast("long").alias("n_inside"))
        .filter(col("n_inside") >= 1)
        .select(col("way_id").alias("osmid"), lit(1).cast("int").alias("osmtype"), "n_inside")
    )
    return kept_nodes.unionByName(kept_ways)
