"""Geometric measures over gathered coordinate sequences: polyline length
(planar + haversine), shoelace ring area, centroid, and a grid-cell
nearest-neighbor spatial join.

The reference delegates measures to geopandas after materializing shapely
geometries (reference _frame.py:54-56); Spark-first they are pure Column
algebra over the same ``array<struct<lon,lat>>`` the WKT constructors
(``operators/geometry.py``) consume — no geometry objects, no UDFs, and
they pipeline inside the coordinate-gather stage.

Cross-engine determinism: multiplication, addition, and sqrt are
exactly-rounded IEEE-754 ops, so segment/shoelace terms are bit-identical
in Spark and DuckDB; per-array sums run as ordered left folds
(``F.aggregate`` / ``list_sum`` over the list) on both sides.  Haversine
additionally uses sin/cos (1-ulp libraries, not exactly rounded) — its
output is rounded to 4 decimals, the same guard the cosine-similarity
oracles use.

The spatial join is the classic uniform-grid formulation: each probe
explodes to its 3×3 cell neighborhood, candidates join on the cell key,
the winner is a ``min(struct(dist, id))`` — shuffle is by cell, never
probe × corpus, and skewed cells are ordinary AQE skew territory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo
from osmdatapy_spark._pyworker import kernel

# bbox-cover replication guards for point_in_polygon_join: a ring whose
# bbox spans more grid cells than this per axis — or whose TOTAL cover
# (x-span × y-span replica rows) exceeds the product cap — fails loudly
# (mis-sized cell_deg) instead of silently exploding the join.  The
# per-axis cap keeps F.sequence under its element limit; the product cap
# closes the corner it leaves open (4095×4095 ≈ 16.7M replicas per ring
# passes both axis checks but is exactly the silent explosion the guard
# exists to prevent).
_MAX_COVER_CELLS_PER_AXIS = 4096
_MAX_COVER_CELLS_TOTAL = 65536
# Hard ceiling on the DERIVED per-axis cap when a caller raises
# max_cover_cells past the per-axis default: F.sequence errors opaquely
# past ~2^31 elements, so however large the requested total cover, one
# axis may never explode beyond this (2^24 — generous for any real
# bbox, far under sequence's cap).
_MAX_COVER_AXIS_HARD = 1 << 24

EARTH_RADIUS_KM = 6371.0


def _fold_sum(arr: Column) -> Column:
    """Ordered left-fold sum of an array<double> — the order-deterministic
    summation both engines can reproduce (DuckDB: list_sum)."""
    return F.aggregate(arr, lit(0.0), lambda acc, x: acc + x)


def _segments(coords: Column) -> Column:
    """array of (a, b) consecutive coordinate pairs along the polyline."""
    n = F.size(coords) - 1
    return F.arrays_zip(F.slice(coords, 1, n).alias("a"), F.slice(coords, 2, n).alias("b"))


def planar_length_deg(coords: Column) -> Column:
    """Polyline length in degree units (planar): Σ sqrt(dx² + dy²).
    Every term is exactly-rounded arithmetic — bit-identical across
    engines with no rounding guard needed."""
    seg = F.transform(
        _segments(coords),
        lambda s: F.sqrt(
            (s["b"]["lon"] - s["a"]["lon"]) * (s["b"]["lon"] - s["a"]["lon"])
            + (s["b"]["lat"] - s["a"]["lat"]) * (s["b"]["lat"] - s["a"]["lat"])
        ),
    )
    return _fold_sum(seg)


def _hav_km(a: Column, b: Column) -> Column:
    """Great-circle distance of one segment (haversine), km."""
    dlat = F.radians(b["lat"] - a["lat"])
    dlon = F.radians(b["lon"] - a["lon"])
    h = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(a["lat"])) * F.cos(F.radians(b["lat"])) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return 2 * lit(EARTH_RADIUS_KM) * F.asin(F.sqrt(h))


def haversine_length_km(coords: Column, decimals: int = 4) -> Column:
    """Great-circle polyline length in km, rounded to ``decimals`` (sin/cos
    are 1-ulp, not exactly rounded — the round absorbs engine drift)."""
    return F.round(_fold_sum(F.transform(_segments(coords), lambda s: _hav_km(s["a"], s["b"]))), decimals)


def shoelace_area_deg2(coords: Column) -> Column:
    """Ring area in squared degrees by the shoelace formula with implicit
    closure (last→first edge added automatically): |Σ xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ|/2.
    Exactly-rounded ops only — no rounding guard."""
    closed = F.concat(coords, F.slice(coords, 1, 1))
    terms = F.transform(
        _segments(closed),
        lambda s: s["a"]["lon"] * s["b"]["lat"] - s["b"]["lon"] * s["a"]["lat"],
    )
    return F.abs(_fold_sum(terms)) / 2


def centroid(coords: Column) -> tuple[Column, Column]:
    """(lon, lat) vertex centroid — ordered-fold mean of the coordinate
    sequence (duplicate vertices count, matching the reference's
    GeoDataFrame .centroid on the vertex multiset only for simple
    geometries; documented as the vertex mean, not the area centroid)."""
    n = F.size(coords)
    cx = _fold_sum(F.transform(coords, lambda c: c["lon"])) / n
    cy = _fold_sum(F.transform(coords, lambda c: c["lat"])) / n
    return cx, cy


# ---------------------------------------------------------------------------
# Grid-cell nearest-neighbor join
# ---------------------------------------------------------------------------


def grid_cell(lon: Column, lat: Column, cell_deg: float) -> Column:
    """(cx, cy) integer grid cell of a point.  floor of an exactly-rounded
    division — deterministic across engines."""
    return F.struct(
        F.floor(lon / lit(cell_deg)).cast("long").alias("cx"),
        F.floor(lat / lit(cell_deg)).cast("long").alias("cy"),
    )


def nearest_in_grid(
    probes: DataFrame,
    candidates: DataFrame,
    cell_deg: float,
    probe_id: str = "probe_id",
    cand_id: str = "cand_id",
) -> DataFrame:
    """For each probe point, the nearest candidate point found in the
    probe's 3×3 grid-cell neighborhood (inner semantics: probes with an
    empty neighborhood drop out; widen ``cell_deg`` to bound the miss
    rate — the standard grid-ANN trade).

    Both inputs need (id, lon, lat).  Distance is squared planar degrees
    (exactly-rounded, engine-portable); ties break on candidate id via
    the struct ordering of ``min(struct(d2, id))``.

    Shape: probes explode ×9 (cell neighborhood), equi-join on the cell
    key against candidates keyed by their own cell, one partial-aggregated
    min per probe.  The join shuffles by cell — never probe × corpus; a
    hot cell (urban cluster) is ordinary AQE skew-join territory, and
    ``cell_deg`` is the knob that bounds per-cell candidate counts.
    """
    offsets = F.array(*[F.struct(lit(dx).alias("dx"), lit(dy).alias("dy")) for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    p = probes.select(
        col(probe_id),
        col("lon").alias("p_lon"),
        col("lat").alias("p_lat"),
        grid_cell(col("lon"), col("lat"), cell_deg).alias("pc"),
    ).select(
        probe_id,
        "p_lon",
        "p_lat",
        F.explode(
            F.transform(
                offsets,
                lambda o: F.struct(
                    (col("pc.cx") + o["dx"]).alias("cx"), (col("pc.cy") + o["dy"]).alias("cy")
                ),
            )
        ).alias("cell"),
    )
    c = candidates.select(
        col(cand_id),
        col("lon").alias("c_lon"),
        col("lat").alias("c_lat"),
        grid_cell(col("lon"), col("lat"), cell_deg).alias("cell"),
    )
    d2 = (col("p_lon") - col("c_lon")) * (col("p_lon") - col("c_lon")) + (
        col("p_lat") - col("c_lat")
    ) * (col("p_lat") - col("c_lat"))
    best = F.min(F.struct(d2.alias("d2"), col(cand_id).alias("id"))).alias("best")
    return (
        p.join(c, "cell")
        .groupBy(probe_id)
        .agg(best)
        .select(
            probe_id,
            col("best.id").alias(cand_id),
            col("best.d2").alias("dist_sq"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-polygon (even-odd ray cast)
# ---------------------------------------------------------------------------


def _crossings_sql(coords: str, px: str, py: str) -> str:
    """SQL text of ``ray_cast_crossings`` over SQL fragments."""
    closed = f"concat({coords}, slice({coords}, 1, 1))"
    n = f"size({closed}) - 1"
    ax, ay = "__s.`0`.lon", "__s.`0`.lat"
    bx, by = "__s.`1`.lon", "__s.`1`.lat"
    lhs = f"(({px}) - {ax}) * ({by} - {ay})"
    rhs = f"({bx} - {ax}) * (({py}) - {ay})"
    crosses = (
        f"CAST((({ay} > ({py})) != ({by} > ({py}))) AND "
        f"(CASE WHEN {by} > {ay} THEN {lhs} < {rhs} ELSE {lhs} > {rhs} END) AS INT)"
    )
    return (
        f"aggregate(transform(arrays_zip(slice({closed}, 1, {n}), slice({closed}, 2, {n})), "
        f"__s -> {crosses}), 0, (__acc, __x) -> __acc + __x)"
    )


def _rings_crossings_sql(rings: str, px: str, py: str) -> str:
    return (
        f"aggregate({rings}, 0, (__racc, __ring) -> "
        f"__racc + {_crossings_sql('__ring', px, py)})"
    )


def ray_cast_crossings(coords: str, px: str, py: str) -> Column:
    """Number of times a horizontal ray from (px, py) toward +lon crosses
    the ring's edges (ring closed implicitly, even-odd rule — well-defined
    for self-intersecting rings too, matching shapely's point-in-polygon
    on simple rings).

    Arguments are SQL fragments: column names or expressions (a double
    literal is ``memo.dlit(x)``).  The expression is SQL text parsed once
    per gateway (``memo.expr``) — built as Column algebra it cost ~400
    py4j round trips per call.

    The crossing test is the division-free form
    ``(px-ax)·(by-ay) <> (bx-ax)·(py-ay)`` with the comparison direction
    following ``sign(by-ay)`` — only exactly-rounded IEEE ops (no 1-ulp
    libraries, no divide-by-zero edge on horizontal edges), so the count
    is bit-identical across engines.
    """
    return memo.expr(_crossings_sql(coords, px, py))


def point_in_ring(coords: str, px: str, py: str) -> Column:
    """Even-odd containment: odd crossing count ⇒ inside (SQL-fragment
    arguments, as ``ray_cast_crossings``)."""
    return memo.expr(f"{_crossings_sql(coords, px, py)} % 2 = 1")


def point_in_rings(rings: str, px: str, py: str) -> Column:
    """Even-odd containment against a holed/multi-ring geometry
    (array<array<struct<lon,lat>>>): the rule composes across rings by
    summing crossings, so a point inside the outer but also inside a hole
    counts 2 (outside), and inside an island ring nested in the hole
    counts 3 (inside) — exactly shapely's semantics for polygons with
    interiors."""
    return memo.expr(f"{_rings_crossings_sql(rings, px, py)} % 2 = 1")


def point_in_polygon_join(
    points: DataFrame,
    rings: DataFrame,
    cell_deg: float,
    point_x: str = "px",
    point_y: str = "py",
    ring_coords: str = "coords",
    crossings_col: str | None = None,
    multi: bool = False,
    max_cover_cells: int | None = None,
) -> DataFrame:
    """Grid-blocked point-in-polygon containment join with BBOX-COVER cell
    replication: each ring is replicated to EVERY grid cell its bounding
    box overlaps (``explode(sequence(floor(x0/cell), floor(x1/cell)))`` ×
    the same for lat), each point keys to its single cell, and the pair
    stream is bbox-gated before the exact even-odd ray cast.  Because
    floor is monotone, point-in-bbox ⇒ the point's cell is one of the
    ring's cover cells — so the cell equi-join + bbox gate is EXACTLY the
    bbox join, independent of ``cell_deg``: the cell size is purely a
    performance knob, never a correctness knob.  (The single-cell
    alternative — keying a ring to the one cell of its center or first
    vertex — silently misses probes in the ring's other cells whenever a
    polygon spans a cell boundary; this operator is the fix, mirroring
    ``nearest_in_grid``'s neighborhood discipline from the probe side.)

    ``points`` needs (``point_x``, ``point_y``) double columns; ``rings``
    needs a ``ring_coords`` array<struct<lon,lat>> column — or, with
    ``multi=True``, array<array<struct<lon,lat>>>: a HOLED/multi-ring
    geometry (outer + interiors [+ islands]), where even-odd composes by
    summing crossings across rings (a point in a hole is outside, in an
    island inside the hole is inside — shapely's interior semantics; the
    bbox covers all rings).  All other columns of both inputs pass
    through (caller keeps names disjoint).  Default output: the pairs
    where the point lies INSIDE the geometry (even-odd rule, implicit
    closure).  With ``crossings_col`` set, all bbox-gated pairs survive
    and gain the raw crossing count (callers that want the inside flag
    derive it as ``crossings % 2 = 1``).

    Boundary contract: containment is the even-odd ray cast APPLIED AFTER
    a closed-bbox gate (``between`` is boundary-inclusive).  For a point
    strictly outside the bbox, an odd raw crossing count is possible
    only when the horizontal ray passes EXACTLY through vertex
    ordinates of a degenerate (zero-area) ring — measure-zero input on
    which any even-odd formulation's verdict is arbitrary anyway; the
    gate resolves it to "outside".  Points on the bbox boundary itself
    pass the gate and follow the ray cast's asymmetric tie rule.

    Scale shape: one shuffle keyed by cell; replication factor per ring =
    its bbox-cover cell count, so pick ``cell_deg`` at or above the
    typical polygon diameter (a handful of replicas each) — a planet
    admin-boundary layer at 1° replicates countries tens of times but
    keeps the join an equi-join with bounded per-cell candidate lists.
    A hot cell (dense metro) is ordinary AQE skew-join territory.  Every
    op is exactly-rounded IEEE (divide by ``cell_deg``, floor, compares),
    so verdicts are bit-identical cross-engine.
    """
    cell = memo.dlit(cell_deg)
    rc = memo.ident(ring_coords)
    flat = f"flatten({rc})" if multi else rc
    x, y = memo.ident(point_x), memo.ident(point_y)

    # Replication sanity guard: cell_deg is a pure performance knob, but a
    # badly mis-sized one (tiny cell vs a wide bbox) would silently explode
    # each ring to O((bbox/cell)^2) rows — and past ~2^31 elements
    # sequence() errors opaquely.  Fail LOUDLY in-plan instead, per axis,
    # naming the knob.  4096 cells/axis is far above any sane cover (the
    # docstring's guidance is a handful of replicas per ring) while well
    # under sequence's element cap.  With max_cover_cells UNSET both
    # defaults stand (4096/axis, 65536 total — a >4096-cell axis with a
    # small total is a degenerate sliver worth failing on).  An EXPLICIT
    # max_cover_cells declares the caller's replica-cost tolerance for
    # BOTH guards — the documented continental-ring escape hatch — so the
    # per-axis cap relaxes to the same value and covers above 4096 cells
    # on one axis become actually reachable (the product guard still
    # bounds the total replica count), subject only to the fixed
    # sequence-safety ceiling (2^24/axis).
    if max_cover_cells is None:
        total_cap, axis_cap = _MAX_COVER_CELLS_TOTAL, _MAX_COVER_CELLS_PER_AXIS
    else:
        total_cap = int(max_cover_cells)
        axis_cap = min(max(_MAX_COVER_CELLS_PER_AXIS, total_cap), _MAX_COVER_AXIS_HARD)

    def cellof(v: str) -> str:
        return f"CAST(FLOOR({v} / {cell}) AS BIGINT)"

    def guarded_hi(lo: str, hi: str, axis: str) -> str:
        msg = memo.sstr(
            "point_in_polygon_join: ring bbox covers %d cells on the " + axis
            + f" axis (max {axis_cap}) — cell_deg is too small for this ring; "
            "raise cell_deg (or max_cover_cells, which lifts this cap "
            f"up to {_MAX_COVER_AXIS_HARD})"
        )
        return (
            f"CASE WHEN ({hi} - {lo}) >= {axis_cap} THEN "
            f"CAST(raise_error(format_string({msg}, (({hi} - {lo}) + 1))) AS BIGINT) "
            f"ELSE {hi} END"
        )

    # total-cover cap: the per-axis guard alone admits a ring spanning
    # just under the cap on BOTH axes (~16.7M replica rows); gate the
    # x-span × y-span product before either explode runs.  The cap is a
    # caller knob (``max_cover_cells``) because a legitimately large
    # cover — one fine-celled continental ring — is a cost decision, not
    # a correctness error; the default keeps the guard.
    xs = f"(({cellof('__x1')} - {cellof('__x0')}) + 1)"
    ys = f"(({cellof('__y1')} - {cellof('__y0')}) + 1)"
    total_msg = memo.sstr(
        "point_in_polygon_join: ring bbox covers %d total cells "
        f"(%d x %d, max {total_cap}) — cell_deg is too small for this "
        "ring; raise cell_deg or pass a larger max_cover_cells"
    )
    x_hi = (
        f"CASE WHEN ({xs} * {ys}) > {total_cap} THEN "
        f"CAST(raise_error(format_string({total_msg}, ({xs} * {ys}), {xs}, {ys})) AS BIGINT) "
        f"ELSE {guarded_hi(cellof('__x0'), cellof('__x1'), 'lon')} END"
    )
    y_hi = guarded_hi(cellof("__y0"), cellof("__y1"), "lat")
    # one projection for the bbox, one per explode (a select holds at
    # most one generator)
    r = memo.select(
        rings,
        "*",
        f"array_min(transform({flat}, __v -> __v.lon)) AS __x0",
        f"array_max(transform({flat}, __v -> __v.lon)) AS __x1",
        f"array_min(transform({flat}, __v -> __v.lat)) AS __y0",
        f"array_max(transform({flat}, __v -> __v.lat)) AS __y1",
    )
    r = memo.select(r, "*", f"explode(sequence({cellof('__x0')}, {x_hi})) AS __cellx")
    r = memo.select(r, "*", f"explode(sequence({cellof('__y0')}, {y_hi})) AS __celly")
    p = memo.select(points, "*", f"{cellof(x)} AS __cellx", f"{cellof(y)} AS __celly")
    pairs = p.join(r, ["__cellx", "__celly"]).filter(
        memo.expr(f"({x} >= __x0 AND {x} <= __x1) AND ({y} >= __y0 AND {y} <= __y1)")
    )
    crossings = (_rings_crossings_sql if multi else _crossings_sql)(rc, x, y)
    if crossings_col is not None:
        out = memo.select(
            pairs, "*", f"CAST({crossings} AS BIGINT) AS {memo.ident(crossings_col)}"
        )
    else:
        out = pairs.filter(memo.expr(f"{crossings} % 2 = 1"))
    return out.drop("__cellx", "__celly", "__x0", "__x1", "__y0", "__y1")


# ---------------------------------------------------------------------------
# Radial-distance polyline simplification
# ---------------------------------------------------------------------------


def simplify_radial(coords: Column, eps: float) -> Column:
    """Vertex-decimation simplification: walk the polyline keeping a vertex
    only when its planar distance from the LAST KEPT vertex is >= ``eps``
    (the first vertex is always kept).  The cheap O(n) cousin of
    Douglas-Peucker, and the standard pre-pass before it at render scale.

    Inherently sequential state (the "last kept" vertex is
    data-dependent), yet shuffle-free in Spark: an ordered ``F.aggregate``
    fold with a (kept-array, last) struct accumulator, pipelining inside
    whatever stage gathered the coordinates.  dist² and eps² comparisons
    are exactly-rounded ops — deterministic cross-engine.
    """
    eps2 = lit(float(eps) * float(eps))
    first = F.slice(coords, 1, 1)
    rest = F.slice(coords, 2, F.greatest(F.size(coords) - 1, lit(0)))
    acc0 = F.struct(first.alias("kept"), F.element_at(coords, 1).alias("last"))

    def step(acc: Column, x: Column) -> Column:
        d2 = (x["lon"] - acc["last"]["lon"]) * (x["lon"] - acc["last"]["lon"]) + (
            x["lat"] - acc["last"]["lat"]
        ) * (x["lat"] - acc["last"]["lat"])
        keep = d2 >= eps2
        return F.struct(
            F.when(keep, F.concat(acc["kept"], F.array(x))).otherwise(acc["kept"]).alias("kept"),
            F.when(keep, x).otherwise(acc["last"]).alias("last"),
        )

    return F.aggregate(rest, acc0, step, lambda acc: acc["kept"])


# ---------------------------------------------------------------------------
# Douglas-Peucker polyline simplification
# ---------------------------------------------------------------------------


def _dp_keep_indices(xs, ys, tol2: float) -> list[int]:
    """Iterative Douglas-Peucker on ONE polyline: returns the kept vertex
    indices (0-based, ascending).  Division-free: a vertex's squared
    distance to the chord is cr²/l2 (cr = the 2D cross product), so the
    farthest-vertex argmax compares cr² directly (shared l2) and the
    tolerance test is cr² > tol²·l2 — every op exactly-rounded IEEE,
    bit-identical to the DuckDB recursive-CTE oracle.  Degenerate chord
    (l2 = 0) falls back to point distance² vs tol².  Ties on the max
    break to the FIRST index (strict > while scanning left to right).
    Bounded per-way work: the stack recursion touches each vertex
    O(depth) times with depth ≤ n."""
    n = len(xs)
    if n <= 2:
        return list(range(n))
    keep = [False] * n
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi <= lo + 1:
            continue
        ax, ay = xs[lo], ys[lo]
        dx, dy = xs[hi] - ax, ys[hi] - ay
        l2 = dx * dx + dy * dy
        best, k = -1.0, -1
        if l2 == 0.0:
            for i in range(lo + 1, hi):
                m = (xs[i] - ax) * (xs[i] - ax) + (ys[i] - ay) * (ys[i] - ay)
                if m > best:
                    best, k = m, i
            thresh = tol2
        else:
            for i in range(lo + 1, hi):
                cr = (xs[i] - ax) * dy - (ys[i] - ay) * dx
                m = cr * cr
                if m > best:
                    best, k = m, i
            thresh = tol2 * l2
        if best > thresh:
            keep[k] = True
            stack.append((lo, k))
            stack.append((k, hi))
    return [i for i in range(n) if keep[i]]


def simplify_dp(
    df: DataFrame, tol: float, coords_col: str = "c", id_col: str = "way_id"
) -> DataFrame:
    """Douglas-Peucker simplification of gathered polylines: the standard
    tolerance-based simplifier ``simplify_radial`` is documented as the
    pre-pass FOR.  Keeps a vertex iff its perpendicular distance to the
    chord of its enclosing split exceeds ``tol`` (recursing on the
    farthest such vertex; endpoints always kept).

    Input: one row per polyline with (``id_col`` long, ``coords_col``
    array<struct<lon,lat>>).  Output: (``id_col``, ``n_in`` original
    vertex count, ``kept`` the simplified coordinate array).

    Unlike the radial walk this is NOT an ordered fold (the recursion
    order is data-dependent), so it runs as ONE Arrow-batched
    ``mapInPandas`` kernel — thousands of polylines per batch, zero
    shuffle beyond whatever stage gathered the coordinates, the same
    shape as the ring-assembly kernels (operators/rings.py).  Per-way
    work is bounded by way length (reference data: ≤2k nodes/way)."""
    import pandas as pd  # noqa: F401  (Arrow batch interface)

    tol2 = float(tol) * float(tol)
    schema = f"{id_col} long, n_in long, kept array<struct<lon:double,lat:double>>"

    @kernel
    def batch(batches):
        import pandas as pd

        for pdf in batches:
            ids, n_in, kept = [], [], []
            for pid, coords in zip(pdf[id_col], pdf[coords_col]):
                xs = [p["lon"] for p in coords]
                ys = [p["lat"] for p in coords]
                ks = _dp_keep_indices(xs, ys, tol2)
                ids.append(pid)
                n_in.append(len(xs))
                kept.append([{"lon": xs[i], "lat": ys[i]} for i in ks])
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "n_in": pd.array(n_in, dtype="int64"),
                    "kept": kept,
                }
            )

    return df.select(id_col, coords_col).mapInPandas(batch, schema=schema)


# ---------------------------------------------------------------------------
# Web-mercator slippy tiles
# ---------------------------------------------------------------------------

_PI = 3.141592653589793


def slippy_tile(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """(xtile, ytile) of the z/x/y web-mercator tile containing the point —
    the partition key planet-scale pipelines bucket geodata by (a tile is
    a self-contained unit of work; neighboring features share tiles).

    ``tan``/``ln`` are 1-ulp libraries, so the mercator fraction gets a
    round-9 guard BEFORE the floor: engines agree unless a value sits
    within 5e-10 of a 9-decimal boundary — decorrelated from tile
    boundaries, the same drift-absorption trick as the haversine round-4.
    """
    n = lit(float(1 << zoom))
    xfrac = F.round((lon + 180.0) / 360.0, 9)
    lat_rad = F.radians(lat)
    yfrac = F.round(
        (1.0 - F.log(F.tan(lat_rad) + 1.0 / F.cos(lat_rad)) / lit(_PI)) / 2.0, 9
    )
    return (
        F.floor(xfrac * n).cast("long"),
        F.floor(yfrac * n).cast("long"),
    )


def quadkey(xtile: Column, ytile: Column, zoom: int) -> Column:
    """Bing-style quadkey string of a z/x/y tile: digit i interleaves bit
    (zoom-1-i) of x and y — the prefix-closed key that makes tile
    hierarchies range-scannable (a zoom-z prefix selects the subtree)."""
    digits = [
        (
            F.shiftright(xtile, b).bitwiseAND(lit(1))
            + F.shiftright(ytile, b).bitwiseAND(lit(1)) * 2
        ).cast("string")
        for b in range(zoom - 1, -1, -1)
    ]
    return F.concat(*digits)


# ---------------------------------------------------------------------------
# Hexagonal binning (axial coordinates, cube rounding)
# ---------------------------------------------------------------------------

_SQRT3_3 = "sqrt(3.0) / 3.0"


def hex_cell(lon: Column, lat: Column, size: float) -> tuple[Column, Column]:
    """(q, r) axial cell of the pointy-top hexagon containing the point
    (side length ``size``, planar degrees) — the H3-style alternative to
    square tiles: every neighbor is equidistant, so density estimates and
    neighborhood joins lose the corner bias of squares.

    Fractional axial coords use only EXACTLY-ROUNDED IEEE ops (sqrt
    included — unlike tan/ln there is no 1-ulp library in the path), so
    cube rounding is bit-identical across engines with no round-guard:
    round the three cube coordinates, then re-derive the axis with the
    largest rounding error from the other two (hex cube coords satisfy
    x + y + z = 0).
    """
    fq = (F.sqrt(lit(3.0)) / 3 * lon - lat / 3) / lit(float(size))
    fr = (2.0 * lat / 3) / lit(float(size))
    fs = -fq - fr
    rq, rr, rs = F.round(fq, 0), F.round(fr, 0), F.round(fs, 0)
    dq, dr, ds = F.abs(rq - fq), F.abs(rr - fr), F.abs(rs - fs)
    q = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    r = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs).otherwise(rr)
    return q.cast("long"), r.cast("long")


def clip_segment_bbox(
    ax: Column,
    ay: Column,
    bx: Column,
    by: Column,
    x0: float,
    x1: float,
    y0: float,
    y1: float,
) -> tuple[Column, Column]:
    """Liang-Barsky parametric clip of segment (ax,ay)->(bx,by) against
    the box [x0,x1]x[y0,y1]: returns (t0, t1) — the segment intersects
    the box iff t0 <= t1, with clipped endpoints a + t*(b-a).

    Entirely in-row: entry/exit parameters via least/greatest chains over
    the four slab constraints; axis-parallel segments resolve through
    +-1e18 sentinels (inside -> slab never binds, outside -> forced
    empty).  Every op is exactly-rounded IEEE (+,-,*,/), so the clip is
    bit-identical across engines with no rounding guard."""
    dx, dy = bx - ax, by - ay

    def slab(d: Column, a: Column, lo: float, hi: float, lo_side: bool) -> Column:
        inside = (a >= lo) & (a <= hi)
        if lo_side:
            return (
                F.when(d > 0, (lit(lo) - a) / d)
                .when(d < 0, (lit(hi) - a) / d)
                .when(inside, lit(-1e18))
                .otherwise(lit(1e18))
            )
        return (
            F.when(d > 0, (lit(hi) - a) / d)
            .when(d < 0, (lit(lo) - a) / d)
            .when(inside, lit(1e18))
            .otherwise(lit(-1e18))
        )

    t0 = F.greatest(lit(0.0), slab(dx, ax, x0, x1, True), slab(dy, ay, y0, y1, True))
    t1 = F.least(lit(1.0), slab(dx, ax, x0, x1, False), slab(dy, ay, y0, y1, False))
    return t0, t1


# ---------------------------------------------------------------------------
# Geohash (base32 interleaved-bit spatial key)
# ---------------------------------------------------------------------------

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon: Column, lat: Column, precision: int = 7) -> Column:
    """Standard geohash of a WGS84 point at the given character precision —
    the third spatial bucketing key next to ``slippy_tile``/``quadkey``
    and ``hex_cell``: like quadkeys, geohash prefixes are prefix-closed
    (a 4-char prefix names the containing coarse cell), but the base32
    alphabet is the de-facto interchange format in Elasticsearch/Redis/
    GeoMesa-style systems.

    Pure integer bit algebra after ONE float op each for lon/lat
    (exactly-rounded +,/,* then floor — bit-identical cross-engine, no
    rounding guard needed, unlike the tan/ln mercator fraction): cell
    indices x (ceil(5p/2) bits) and y (floor(5p/2) bits) interleave
    FROM THE MSB — the standard layout starts with a longitude bit at
    the most-significant position and alternates lon/lat downward, so
    lon bit j-from-MSB lands at g bit (bits-1-2j) and lat bit k-from-MSB
    at (bits-2-2k).  (An LSB-anchored interleave coincides with this
    only for odd total bit counts, i.e. odd precisions — even precisions
    would silently swap the lon/lat roles and emit nonstandard hashes.)
    Each 5-bit group then maps through the geohash alphabet.  Stays
    entirely inside whole-stage codegen.
    """
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    x = F.least(
        F.floor((lon + 180.0) / 360.0 * lit(float(1 << lon_bits))),
        lit((1 << lon_bits) - 1),
    ).cast("long")
    y = F.least(
        F.floor((lat + 90.0) / 180.0 * lit(float(1 << lat_bits))),
        lit((1 << lat_bits) - 1),
    ).cast("long")
    g = lit(0).cast("long")
    for j in range(lon_bits):
        g = g + F.shiftleft(
            F.shiftright(x, lon_bits - 1 - j).bitwiseAND(lit(1)), bits - 1 - 2 * j
        )
    for k in range(lat_bits):
        g = g + F.shiftleft(
            F.shiftright(y, lat_bits - 1 - k).bitwiseAND(lit(1)), bits - 2 - 2 * k
        )
    alphabet = F.array(*[lit(ch) for ch in GEOHASH32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(g, 5 * (precision - 1 - c)).bitwiseAND(lit(31)) + 1).cast(
                "int"
            ),
        )
        for c in range(precision)
    ]
    return F.concat(*chars)


def geohash_oracle_parts(
    lon_expr: str, lat_expr: str, precision: int = 7
) -> dict[str, str]:
    """DuckDB SQL fragments computing the identical geohash — generated
    from the same bit layout so the oracle can't drift from the kernel.
    Returns ``x``/``y`` (cell indices from lon/lat), ``g`` (interleave of
    columns literally named x and y), and ``gh`` (base32 chars of a
    column literally named g) — meant to be stacked through CTEs so the
    big interleave expression appears once, not once per character."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    x = (
        f"LEAST(CAST(floor(({lon_expr} + 180.0) / 360.0 * {float(1 << lon_bits)}) "
        f"AS BIGINT), {(1 << lon_bits) - 1})"
    )
    y = (
        f"LEAST(CAST(floor(({lat_expr} + 90.0) / 180.0 * {float(1 << lat_bits)}) "
        f"AS BIGINT), {(1 << lat_bits) - 1})"
    )
    terms = [
        f"(((x >> {lon_bits - 1 - j}) & 1) << {bits - 1 - 2 * j})"
        for j in range(lon_bits)
    ]
    terms += [
        f"(((y >> {lat_bits - 1 - k}) & 1) << {bits - 2 - 2 * k})"
        for k in range(lat_bits)
    ]
    g = "(" + " + ".join(terms) + ")"
    chars = [
        f"substr('{GEOHASH32}', CAST(((g >> {5 * (precision - 1 - c)}) & 31) "
        f"AS INTEGER) + 1, 1)"
        for c in range(precision)
    ]
    return {"x": x, "y": y, "g": g, "gh": "(" + " || ".join(chars) + ")"}


# ---------------------------------------------------------------------------
# Hilbert curve index (locality-preserving layout key, next to z-order)
# ---------------------------------------------------------------------------


def hilbert_index(x: Column, y: Column, order: int = 8) -> Column:
    """Hilbert-curve distance d of grid cell (x, y) on a 2^order × 2^order
    grid — the locality-preserving alternative to the Morton/z-order
    interleave (``suite/core._z_interleave``): consecutive d values are
    ALWAYS grid neighbors (no z-curve jumps), so range-bucketing by d
    yields tighter per-bucket min/max envelopes than z-order — the reason
    Iceberg/Delta added OPTIMIZE ... hilbert.

    The standard per-level fold (Wikipedia's xy2d): at each scale s the
    quadrant bits (rx, ry) contribute s²·((3rx) XOR ry) and the frame
    rotates/reflects.  Formulated as ``F.aggregate`` over the literal
    level array with a struct(x, y, d) accumulator — NOT as an unrolled
    when/otherwise tree: each level's new x/y reference the previous
    level's x/y several times, so inlined unrolling grows the expression
    tree exponentially (~8^order nodes; order 8 OOMs the driver during
    analysis).  The fold's lambda is ONE level; the accumulator is a
    runtime value.  Pure integer Column algebra, zero shuffle.
    """
    n = 1 << order
    levels = F.array(*[lit(1 << i) for i in range(order - 1, -1, -1)])
    init = F.struct(
        x.cast("long").alias("x"), y.cast("long").alias("y"), lit(0).cast("long").alias("d")
    )

    def step(acc: Column, s: Column) -> Column:
        sl = s.cast("long")
        rx = F.when(acc["x"].bitwiseAND(sl) > 0, lit(1)).otherwise(lit(0))
        ry = F.when(acc["y"].bitwiseAND(sl) > 0, lit(1)).otherwise(lit(0))
        d = acc["d"] + sl * sl * ((lit(3) * rx).bitwiseXOR(ry)).cast("long")
        # rot(n, x, y, rx, ry): reflect when ry==0 and rx==1, then swap
        refl_x = F.when((ry == 0) & (rx == 1), lit(n - 1) - acc["x"]).otherwise(acc["x"])
        refl_y = F.when((ry == 0) & (rx == 1), lit(n - 1) - acc["y"]).otherwise(acc["y"])
        nxt_x = F.when(ry == 0, refl_y).otherwise(refl_x)
        nxt_y = F.when(ry == 0, refl_x).otherwise(refl_y)
        return F.struct(nxt_x.alias("x"), nxt_y.alias("y"), d.alias("d"))

    return F.aggregate(levels, init, step, lambda acc: acc["d"])


def hilbert_oracle_ctes(
    x_expr: str, y_expr: str, order: int = 8, carry: tuple = ()
) -> str:
    """DuckDB CTE chain computing the identical Hilbert index — generated
    from the same per-level fold so the oracle can't drift from the
    kernel.  Produces stacked CTEs ``h0 .. h{order}``; the final one
    exposes columns (d, x, y) where d is the Hilbert distance (x/y are
    the ROTATED frame's coords after the fold — not the inputs; list any
    input columns that must survive to the output in ``carry``).  The
    caller embeds it as ``WITH {ctes}, ... SELECT d FROM h{order}`` after
    providing a relation named ``h_src`` with the raw inputs."""
    n = 1 << order
    keep = "".join(f"{c}, " for c in carry)
    parts = [
        f"h0 AS (SELECT {keep}CAST({x_expr} AS BIGINT) AS x, "
        f"CAST({y_expr} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM h_src)"
    ]
    s = n >> 1
    i = 0
    while s > 0:
        i += 1
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        d = f"d + {s} * {s} * xor(3 * {rx}, {ry})"
        refl_x = f"(CASE WHEN {ry} = 0 AND {rx} = 1 THEN {n - 1} - x ELSE x END)"
        refl_y = f"(CASE WHEN {ry} = 0 AND {rx} = 1 THEN {n - 1} - y ELSE y END)"
        nx = f"(CASE WHEN {ry} = 0 THEN {refl_y} ELSE {refl_x} END)"
        ny = f"(CASE WHEN {ry} = 0 THEN {refl_x} ELSE {refl_y} END)"
        parts.append(
            f"h{i} AS (SELECT {keep}{nx} AS x, {ny} AS y, "
            f"CAST({d} AS BIGINT) AS d FROM h{i - 1})"
        )
        s >>= 1
    return ",\n    ".join(parts)
