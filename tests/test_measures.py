"""Geometric-measure kernels (operators/measures.py) against hand-computed
expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from osmdatapy_spark.operators.measures import (
    centroid,
    grid_cell,
    haversine_length_km,
    nearest_in_grid,
    planar_length_deg,
    shoelace_area_deg2,
)


def _coords_df(spark, pts):
    arr = F.array(
        *[F.struct(F.lit(float(x)).alias("lon"), F.lit(float(y)).alias("lat")) for x, y in pts]
    )
    return spark.range(1).select(arr.alias("c"))


def test_planar_length_right_triangle(spark):
    out = _coords_df(spark, [(0, 0), (3, 0), (3, 4)]).select(
        planar_length_deg(col("c")).alias("l")
    ).collect()
    assert out[0].l == pytest.approx(7.0)


def test_planar_length_single_point_is_zero(spark):
    out = _coords_df(spark, [(5, 5)]).select(planar_length_deg(col("c")).alias("l")).collect()
    assert out[0].l == 0.0


def test_haversine_equator_degree(spark):
    # 1 degree of longitude at the equator ≈ 111.1949 km
    out = _coords_df(spark, [(0, 0), (1, 0)]).select(
        haversine_length_km(col("c")).alias("l")
    ).collect()
    assert out[0].l == pytest.approx(2 * math.pi * 6371.0 / 360, abs=1e-3)


def test_shoelace_unit_square(spark):
    out = _coords_df(spark, [(0, 0), (1, 0), (1, 1), (0, 1)]).select(
        shoelace_area_deg2(col("c")).alias("a")
    ).collect()
    assert out[0].a == 1.0


def test_shoelace_orientation_invariant(spark):
    cw = _coords_df(spark, [(0, 0), (0, 1), (1, 1), (1, 0)]).select(
        shoelace_area_deg2(col("c")).alias("a")
    ).collect()
    assert cw[0].a == 1.0


def test_shoelace_degenerate_is_zero(spark):
    for pts in ([(2, 3)], [(2, 3), (4, 5)]):
        out = _coords_df(spark, pts).select(shoelace_area_deg2(col("c")).alias("a")).collect()
        assert out[0].a == 0.0


def test_centroid_mean(spark):
    cx, cy = centroid(col("c"))
    out = _coords_df(spark, [(0, 0), (2, 0), (2, 2), (0, 2)]).select(
        cx.alias("x"), cy.alias("y")
    ).collect()
    assert (out[0].x, out[0].y) == (1.0, 1.0)


def test_grid_cell_negative_coords_floor(spark):
    out = spark.range(1).select(
        grid_cell(F.lit(-0.5), F.lit(-30.5), 30.0).alias("g")
    ).collect()[0].g
    assert (out.cx, out.cy) == (-1, -2)


def test_nearest_in_grid_picks_closest_with_tiebreak(spark):
    probes = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, lon double, lat double")
    cands = spark.createDataFrame(
        [(10, 3.0, 0.0), (11, 1.0, 1.0), (12, -1.0, -1.0)],
        "cid long, lon double, lat double",
    )
    out = nearest_in_grid(probes, cands, 30.0, probe_id="pid", cand_id="cid").collect()
    # 11 and 12 are equidistant (d2=2) — tie breaks to the smaller id
    assert [(r.pid, r.cid, r.dist_sq) for r in out] == [(1, 11, 2.0)]


def test_nearest_in_grid_out_of_neighborhood_drops(spark):
    probes = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, lon double, lat double")
    cands = spark.createDataFrame([(10, 100.0, 0.0)], "cid long, lon double, lat double")
    # candidate is 3 cells away at cell_deg=30 → outside the 3×3 neighborhood
    out = nearest_in_grid(probes, cands, 30.0, probe_id="pid", cand_id="cid").collect()
    assert out == []


def test_nearest_in_grid_crosses_cell_boundary(spark):
    # probe at the right edge of its cell; nearest candidate just across
    probes = spark.createDataFrame([(1, 29.9, 0.0)], "pid long, lon double, lat double")
    cands = spark.createDataFrame(
        [(10, 30.1, 0.0), (11, 5.0, 0.0)], "cid long, lon double, lat double"
    )
    out = nearest_in_grid(probes, cands, 30.0, probe_id="pid", cand_id="cid").collect()
    assert [(r.pid, r.cid) for r in out] == [(1, 10)]


# ---------------------------------------------------------------------------
# Ray-cast point-in-ring
# ---------------------------------------------------------------------------


def _pip(spark, ring, px, py):
    from osmdatapy_spark import memo
    from osmdatapy_spark.operators.measures import point_in_ring, ray_cast_crossings

    out = _coords_df(spark, ring).select(
        ray_cast_crossings("c", memo.dlit(px), memo.dlit(py)).alias("x"),
        point_in_ring("c", memo.dlit(px), memo.dlit(py)).alias("inside"),
    ).collect()[0]
    return out.x, out.inside


def test_ray_cast_unit_square(spark):
    sq = [(0, 0), (1, 0), (1, 1), (0, 1)]
    assert _pip(spark, sq, 0.5, 0.5) == (1, True)       # center
    assert _pip(spark, sq, 2.0, 0.5) == (0, False)      # right of the square
    assert _pip(spark, sq, -1.0, 0.5) == (2, False)     # ray crosses both sides
    assert _pip(spark, sq, 0.5, 2.0) == (0, False)      # above


def test_ray_cast_concave_ring(spark):
    # U-shape: pocket at (1.5, 0.75) is OUTSIDE the ring
    u = [(0, 0), (3, 0), (3, 2), (2, 2), (2, 0.5), (1, 0.5), (1, 2), (0, 2)]
    assert _pip(spark, u, 0.5, 1.0)[1] is True          # left arm
    assert _pip(spark, u, 2.5, 1.0)[1] is True          # right arm
    assert _pip(spark, u, 1.5, 1.0)[1] is False         # pocket
    assert _pip(spark, u, 1.5, 0.25)[1] is True         # base under the pocket


def test_ray_cast_horizontal_edges_no_division_blowup(spark):
    # degenerate ring with a horizontal edge at the ray height
    ring = [(0, 0), (2, 0), (2, 1), (1, 1), (0, 1)]
    x, inside = _pip(spark, ring, 1.0, 0.5)
    assert inside is True


# ---------------------------------------------------------------------------
# Bbox-cover point-in-polygon join
# ---------------------------------------------------------------------------


def _pip_fixture(spark):
    """Three rings, one of which spans MULTIPLE 1° grid cells with its
    first vertex in the leftmost one — the exact shape single-cell
    blocking (key ring to its center's or first vertex's cell) silently
    gets wrong; plus probes inside, outside-in-bbox, and off-bbox."""
    rings = spark.createDataFrame(
        [
            # wide ring spanning cells x∈{0,1,2} at cell_deg=1; 1st vertex in cell 0
            (1, [(0.6, 0.2), (2.4, 0.2), (2.4, 0.8), (0.6, 0.8)]),
            # small ring inside one cell
            (2, [(5.1, 5.1), (5.4, 5.1), (5.4, 5.4), (5.1, 5.4)]),
            # concave U: pocket (7.5, 5.0) is in the bbox but OUTSIDE
            (3, [(7.0, 4.0), (8.0, 4.0), (8.0, 6.0), (7.8, 6.0), (7.8, 4.5),
                 (7.2, 4.5), (7.2, 6.0), (7.0, 6.0)]),
        ],
        "rid long, raw array<struct<lon double, lat double>>",
    ).select("rid", col("raw").alias("coords"))
    pts = spark.createDataFrame(
        [
            (10, 2.1, 0.5),   # inside ring 1, two cells away from its 1st vertex
            (11, 0.7, 0.5),   # inside ring 1, same cell as its 1st vertex
            (12, 5.2, 5.2),   # inside ring 2
            (13, 7.5, 5.0),   # in ring 3's bbox but in the pocket (outside)
            (14, 7.1, 4.2),   # inside ring 3's left arm
            (15, 50.0, 50.0), # off every bbox
        ],
        "pid long, px double, py double",
    )
    return pts, rings


def _pip_brute(spark, pts, rings):
    from osmdatapy_spark.operators.measures import point_in_ring

    return sorted(
        (r.pid, r.rid)
        for r in pts.crossJoin(rings)
        .filter(point_in_ring("coords", "px", "py"))
        .collect()
    )


def test_point_in_polygon_join_spanning_ring_found(spark):
    """The regression single-cell keying had: a probe in a different cell
    than the ring's first vertex must still match a spanning ring."""
    from osmdatapy_spark.operators.measures import point_in_polygon_join

    pts, rings = _pip_fixture(spark)
    out = sorted(
        (r.pid, r.rid)
        for r in point_in_polygon_join(pts, rings, 1.0).collect()
    )
    assert (10, 1) in out                      # the spanning-cell pair
    assert out == _pip_brute(spark, pts, rings)


def test_point_in_polygon_join_cell_size_is_not_a_correctness_knob(spark):
    """Output must equal the blocking-free brute-force join for ANY cell
    size — cell_deg only trades replication vs candidate-list length."""
    from osmdatapy_spark.operators.measures import point_in_polygon_join

    pts, rings = _pip_fixture(spark)
    want = _pip_brute(spark, pts, rings)
    for cell in (0.25, 1.0, 3.0, 90.0):
        got = sorted(
            (r.pid, r.rid)
            for r in point_in_polygon_join(pts, rings, cell).collect()
        )
        assert got == want, f"cell_deg={cell}"


def test_point_in_polygon_join_multi_ring_holes(spark):
    """multi=True composes even-odd across rings: a point in the donut's
    hole is OUTSIDE it, an island nested in the hole matches only the
    island, and the hole probe sits in a different cell than the outer's
    first vertex (spanning + replication exercised together)."""
    from osmdatapy_spark.operators.measures import point_in_polygon_join

    donut = [
        [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)],
    ]
    island = [[(4.5, 4.5), (5.5, 4.5), (5.5, 5.5), (4.5, 5.5)]]
    geoms = spark.createDataFrame(
        [(1, donut), (2, island)],
        "gid long, rings array<array<struct<lon double, lat double>>>",
    )
    pts = spark.createDataFrame(
        [(10, 2.0, 2.0), (11, 4.25, 5.0), (12, 5.0, 5.0), (13, 20.0, 5.0)],
        "pid long, px double, py double",
    )
    for cell in (3.0, 50.0):
        got = sorted(
            (r.pid, r.gid)
            for r in point_in_polygon_join(
                pts, geoms, cell, ring_coords="rings", multi=True
            ).collect()
        )
        assert got == [(10, 1), (12, 2)], f"cell={cell}: {got}"


def test_point_in_polygon_join_crossings_mode_keeps_bbox_pairs(spark):
    """crossings_col mode: all bbox-gated pairs survive with the raw
    even-odd count — the pocket probe shows up with even crossings."""
    from osmdatapy_spark.operators.measures import point_in_polygon_join

    pts, rings = _pip_fixture(spark)
    out = {
        (r.pid, r.rid): r.x
        for r in point_in_polygon_join(
            pts, rings, 1.0, crossings_col="x"
        ).collect()
    }
    assert out[(13, 3)] % 2 == 0      # pocket probe: bbox pair, even crossings
    assert out[(10, 1)] % 2 == 1
    assert (15, 1) not in out and (15, 2) not in out and (15, 3) not in out


# ---------------------------------------------------------------------------
# Douglas-Peucker simplification
# ---------------------------------------------------------------------------


def test_dp_kernel_classic_shapes():
    from osmdatapy_spark.operators.measures import _dp_keep_indices

    # collinear line collapses to endpoints at any positive tolerance
    xs, ys = [0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 0.0, 0.0, 0.0, 0.0]
    assert _dp_keep_indices(xs, ys, 0.01) == [0, 4]
    # spike above tolerance is kept; recursion then keeps both sub-chords
    xs, ys = [0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 0.1, 3.0, 0.1, 0.0]
    assert _dp_keep_indices(xs, ys, 1.0) == [0, 2, 4]
    # deeper recursion: zigzag keeps every extremum above tol
    xs = [float(i) for i in range(9)]
    ys = [0.0, 2.0, 0.0, 2.0, 0.0, 2.0, 0.0, 2.0, 0.0]
    assert _dp_keep_indices(xs, ys, 0.25) == list(range(9))
    # tiny wiggles below tolerance vanish entirely
    ys_small = [0.0, 0.1, 0.0, 0.1, 0.0, 0.1, 0.0, 0.1, 0.0]
    assert _dp_keep_indices(xs, ys_small, 1.0) == [0, 8]
    # n <= 2 passes through
    assert _dp_keep_indices([5.0], [5.0], 1.0) == [0]
    assert _dp_keep_indices([0.0, 1.0], [0.0, 1.0], 1.0) == [0, 1]


def test_dp_kernel_tie_takes_first_max():
    from osmdatapy_spark.operators.measures import _dp_keep_indices

    # two equidistant spikes: the FIRST max splits; both survive
    xs, ys = [0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 2.0, 0.0, 2.0, 0.0]
    kept = _dp_keep_indices(xs, ys, 0.5)
    assert kept == [0, 1, 2, 3, 4] or 1 in kept  # first spike split first
    assert kept[0] == 0 and kept[-1] == 4


def test_dp_kernel_degenerate_closed_chord():
    from osmdatapy_spark.operators.measures import _dp_keep_indices

    # first == last (closed loop): l2 == 0 branch uses point distance²
    xs, ys = [0.0, 3.0, 0.0], [0.0, 0.0, 0.0]
    assert _dp_keep_indices(xs, ys, 1.0) == [0, 1, 2]    # 9 > tol²=1 → kept
    assert _dp_keep_indices(xs, ys, 16.0) == [0, 2]      # 9 < tol²=16 → dropped


def test_simplify_dp_operator(spark):
    from osmdatapy_spark.operators.measures import simplify_dp

    df = spark.createDataFrame(
        [
            (1, [(0.0, 0.0), (1.0, 0.1), (2.0, 3.0), (3.0, 0.1), (4.0, 0.0)]),
            (2, [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0)]),
        ],
        "way_id long, raw array<struct<lon double, lat double>>",
    ).select("way_id", col("raw").alias("c"))
    out = {r.way_id: (r.n_in, [(p.lon, p.lat) for p in r.kept])
           for r in simplify_dp(df, 1.0).collect()}
    assert out[1] == (5, [(0.0, 0.0), (2.0, 3.0), (4.0, 0.0)])
    assert out[2] == (3, [(0.0, 0.0), (2.0, 0.0)])


# ---------------------------------------------------------------------------
# Radial simplification
# ---------------------------------------------------------------------------


def test_simplify_radial_decimates_close_vertices(spark):
    from osmdatapy_spark.operators.measures import simplify_radial

    line = [(0, 0), (0.1, 0), (1, 0), (1.05, 0), (2, 0)]
    out = _coords_df(spark, line).select(simplify_radial(col("c"), 0.5).alias("s")).collect()[0].s
    assert [(p["lon"], p["lat"]) for p in out] == [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0)]


def test_simplify_radial_keeps_everything_at_zero_eps(spark):
    from osmdatapy_spark.operators.measures import simplify_radial

    line = [(0, 0), (0.1, 0), (1, 0)]
    out = _coords_df(spark, line).select(simplify_radial(col("c"), 0.0).alias("s")).collect()[0].s
    assert len(out) == 3


def test_simplify_radial_single_vertex(spark):
    from osmdatapy_spark.operators.measures import simplify_radial

    out = _coords_df(spark, [(3, 4)]).select(simplify_radial(col("c"), 1.0).alias("s")).collect()[0].s
    assert [(p["lon"], p["lat"]) for p in out] == [(3.0, 4.0)]


# ---------------------------------------------------------------------------
# Slippy tiles
# ---------------------------------------------------------------------------


def test_slippy_tile_known_points(spark):
    from osmdatapy_spark.operators.measures import quadkey, slippy_tile

    df = spark.createDataFrame(
        [(0.0, 0.0), (-180.0, 0.0), (0.0, 85.0), (0.0, -85.0)], "lon double, lat double"
    )
    xt, yt = slippy_tile(col("lon"), col("lat"), 1)
    rows = df.select("lon", "lat", xt.alias("x"), yt.alias("y")).collect()
    got = {(r.lon, r.lat): (r.x, r.y) for r in rows}
    assert got[(0.0, 0.0)] == (1, 1)
    assert got[(-180.0, 0.0)] == (0, 1)
    assert got[(0.0, 85.0)] == (1, 0)
    assert got[(0.0, -85.0)] == (1, 1)


def test_quadkey_bing_doc_example(spark):
    from osmdatapy_spark.operators.measures import quadkey

    # Bing maps tile-system doc: tile (x=3, y=5, z=3) -> "213"
    out = spark.range(1).select(
        quadkey(F.lit(3).cast("long"), F.lit(5).cast("long"), 3).alias("q")
    ).collect()
    assert out[0].q == "213"


def test_hex_cell_centers_and_neighbors(spark):
    from osmdatapy_spark.operators.measures import hex_cell

    # axial-center of cell (q,r) with size s: x = s*sqrt(3)*(q + r/2), y = s*3/2*r
    import math

    s = 2.0
    pts = []
    for q, r in [(0, 0), (1, 0), (0, 1), (-2, 3), (5, -1)]:
        x = s * math.sqrt(3) * (q + r / 2)
        y = s * 1.5 * r
        pts.append((float(x), float(y), q, r))
    df = spark.createDataFrame(pts, "lon double, lat double, q long, r long")
    hq, hr = hex_cell(F.col("lon"), F.col("lat"), s)
    rows = df.select("q", "r", hq.alias("hq"), hr.alias("hr")).collect()
    for row in rows:
        assert (row.hq, row.hr) == (row.q, row.r), row


def test_hex_cell_partitions_the_plane(spark):
    """Every point lands in exactly one cell and jittered points near a
    center stay in that center's cell (jitter < inradius)."""
    from osmdatapy_spark.operators.measures import hex_cell

    import math

    s = 2.0
    inradius = s * math.sqrt(3) / 2  # distance center -> edge midpoint
    base_x, base_y = s * math.sqrt(3) * 3, s * 1.5 * 2  # cell (3, 2)... x uses q + r/2
    base_x = s * math.sqrt(3) * (3 + 2 / 2)
    rows = []
    for dx in (-0.4, 0, 0.4):
        for dy in (-0.4, 0, 0.4):
            rows.append((base_x + dx * inradius, base_y + dy * inradius))
    df = spark.createDataFrame(rows, "lon double, lat double")
    hq, hr = hex_cell(F.col("lon"), F.col("lat"), s)
    got = {(r.hq, r.hr) for r in df.select(hq.alias("hq"), hr.alias("hr")).collect()}
    assert got == {(3, 2)}, got


def _ref_geohash(lon: float, lat: float, precision: int) -> str:
    """Textbook interval-halving geohash (Niemeyer's algorithm) — an
    INDEPENDENT derivation: the kernel + generated oracle share a bit
    layout, so only a from-first-principles reference catches a layout
    bug in both at once."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    out, bit, ch, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch = ch << 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch = ch << 1
                lat_hi = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(alphabet[ch])
            bit, ch = 0, 0
    return "".join(out)


def test_geohash_matches_textbook_algorithm(spark):
    from osmdatapy_spark.operators.measures import geohash

    pts = [
        (-5.6, 42.6),        # ezs42 territory (classic example point)
        (13.361389, 38.115556),
        (-179.9, -89.9),
        (179.9, 89.9),
        (0.0, 0.0),
        (2.3488, 48.8534),
        (-122.419, 37.775),
    ]
    df = spark.createDataFrame([(float(a), float(b)) for a, b in pts], "lon double, lat double")
    # Even precisions MUST be covered: an LSB-anchored interleave agrees
    # with the standard layout at odd precisions but swaps lon/lat roles
    # at even ones (round-2 ADVICE finding).
    for prec in (4, 5, 6, 7):
        got = df.select(
            "lon", "lat", geohash(F.col("lon"), F.col("lat"), prec).alias("gh")
        ).collect()
        for r in got:
            assert r.gh == _ref_geohash(r.lon, r.lat, prec), (r.lon, r.lat, r.gh, prec)
    # the classic documented values
    row = spark.createDataFrame([(-5.6, 42.6)], "lon double, lat double").select(
        geohash(F.col("lon"), F.col("lat"), 5).alias("gh")
    ).collect()[0]
    assert row.gh == "ezs42"
    # Paris at even precision 6 — the exact case the LSB layout broke
    # (it yielded 'w0jqxm' instead of the standard 'u09tvm').
    row = spark.createDataFrame([(2.3488, 48.8534)], "lon double, lat double").select(
        geohash(F.col("lon"), F.col("lat"), 6).alias("gh")
    ).collect()[0]
    assert row.gh == "u09tvm"


def test_geohash_oracle_parts_match_kernel(spark):
    """The generated DuckDB fragments must track the fixed MSB layout —
    run both engines on the same points at an even AND an odd precision."""
    import duckdb

    from osmdatapy_spark.operators.measures import geohash, geohash_oracle_parts

    pts = [(-5.6, 42.6), (2.3488, 48.8534), (151.2093, -33.8688), (0.0, 0.0)]
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in pts], "lon double, lat double"
    )
    for prec in (4, 6, 7):
        got = [
            r.gh
            for r in df.select(
                geohash(F.col("lon"), F.col("lat"), prec).alias("gh")
            ).collect()
        ]
        p = geohash_oracle_parts("lon", "lat", prec)
        con = duckdb.connect()
        rows = con.execute(
            "WITH pts(lon, lat) AS (VALUES "
            + ", ".join(f"({a}, {b})" for a, b in pts)
            + f"), xy AS (SELECT {p['x']} AS x, {p['y']} AS y FROM pts), "
            f"gg AS (SELECT {p['g']} AS g FROM xy) "
            f"SELECT {p['gh']} FROM gg"
        ).fetchall()
        con.close()
        assert got == [r[0] for r in rows], (prec, got, rows)


def _py_hilbert(order: int, x: int, y: int) -> int:
    """Independent textbook xy2d (Wikipedia) — from-first-principles
    reference, like _ref_geohash."""
    n = 1 << order
    d, s = 0, n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_matches_textbook_and_is_a_space_filling_curve(spark):
    from osmdatapy_spark.operators.measures import hilbert_index

    order, n = 4, 16
    cells = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(cells, "x long, y long")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", hilbert_index(F.col("x"), F.col("y"), order).alias("d")
        ).collect()
    }
    # matches the independent reference on every cell
    for (x, y), d in got.items():
        assert d == _py_hilbert(order, x, y), (x, y, d)
    # bijective onto [0, n^2)
    assert sorted(got.values()) == list(range(n * n))
    # THE Hilbert property: consecutive curve positions are grid neighbors
    by_d = {d: xy for xy, d in got.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])


def test_map_match_snaps_to_segment_interior(spark):
    """Point-to-segment property: the snapped distance can never exceed
    the distance to either endpoint, and a point alongside a long
    straight segment snaps to its interior (0 < t < 1) — the case a
    nearest-VERTEX matcher gets wrong."""
    from osmdatapy_spark.suite.geo import osm_map_match  # noqa: F401 (shape ref)

    # direct formula check on a synthetic segment via the same expressions
    seg = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 0.0)], "sid long, x1 double, y1 double, x2 double, y2 double"
    )
    probes = [(100, 5.0, 1.0), (101, -2.0, 1.0), (102, 12.0, 1.0)]
    p = spark.createDataFrame(probes, "pid long, px double, py double")
    j = p.crossJoin(seg)
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    l2 = dx * dx + dy * dy
    t_raw = ((F.col("px") - F.col("x1")) * dx + (F.col("py") - F.col("y1")) * dy) / l2
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    qx, qy = F.col("x1") + F.col("t") * dx, F.col("y1") + F.col("t") * dy
    d2 = (F.col("px") - qx) * (F.col("px") - qx) + (F.col("py") - qy) * (F.col("py") - qy)
    rows = {
        r["pid"]: (r["t"], r["d2"])
        for r in j.withColumn("t", t).withColumn("d2", d2).collect()
    }
    # interior snap: perpendicular foot at t=0.5, d2 = 1 (not sqrt(26) to a vertex)
    assert rows[100] == (0.5, 1.0)
    # beyond the start: clamps to t=0, d2 = 4 + 1
    assert rows[101] == (0.0, 5.0)
    # beyond the end: clamps to t=1, d2 = 4 + 1
    assert rows[102] == (1.0, 5.0)
    # endpoint-distance bound
    for pid, (px, py) in {100: (5.0, 1.0), 101: (-2.0, 1.0), 102: (12.0, 1.0)}.items():
        d_ends = min((px - 0) ** 2 + (py - 0) ** 2, (px - 10) ** 2 + (py - 0) ** 2)
        assert rows[pid][1] <= d_ends + 1e-12


def test_point_in_polygon_join_total_cover_guard(spark):
    """A ring just under the per-axis cap on BOTH axes (~16.7M replicas)
    must still fail loudly: the product guard gates x-span * y-span
    before either explode runs."""
    import pytest

    from osmdatapy_spark.operators.measures import point_in_polygon_join

    # 400 x 400 cells at cell_deg=0.01 -> 160k total cover: passes both
    # per-axis checks (400 < 4096) but exceeds the 65536 product cap
    rings = spark.createDataFrame(
        [(1, [(0.0, 0.0), (3.99, 0.0), (3.99, 3.99), (0.0, 3.99)])],
        "rid long, coords array<struct<lon double, lat double>>",
    )
    pts = spark.createDataFrame([(10, 1.0, 1.0)], "pid long, px double, py double")
    with pytest.raises(Exception, match="total cells"):
        point_in_polygon_join(pts, rings, 0.01).collect()
    # a caller with a known-large ring opts UP instead of being forced to
    # coarsen cell_deg: the same cover passes with a raised cap, and the
    # verdict is still exact
    got = point_in_polygon_join(
        pts, rings, 0.01, max_cover_cells=200_000
    ).select("pid", "rid").collect()
    assert [(r.pid, r.rid) for r in got] == [(10, 1)]


def test_point_in_polygon_join_axis_guard(spark):
    """One axis past the per-axis cap (with a thin other axis so the
    product cap is NOT the one tripping) still fails loudly, naming the
    axis."""
    import pytest

    from osmdatapy_spark.operators.measures import point_in_polygon_join

    # 5000 x 1 cells at cell_deg=0.01: product 5000 < 65536, lon axis > 4096
    rings = spark.createDataFrame(
        [(1, [(0.0, 0.0), (49.99, 0.0), (49.99, 0.001), (0.0, 0.001)])],
        "rid long, coords array<struct<lon double, lat double>>",
    )
    pts = spark.createDataFrame([(10, 1.0, 0.0005)], "pid long, px double, py double")
    with pytest.raises(Exception, match="lon axis"):
        point_in_polygon_join(pts, rings, 0.01).collect()
    # The escape hatch must actually reach covers past 4096 cells/axis:
    # raising max_cover_cells above the default total relaxes the per-axis
    # cap to the same value (the continental-ring case the knob documents —
    # previously the fixed 4096/axis guard raised first and made such
    # values unreachable).  5000 x 1 = 5000 replicas under the raised cap.
    out = point_in_polygon_join(pts, rings, 0.01, max_cover_cells=10_000).collect()
    assert [(r.pid, r.rid) for r in out] == [(10, 1)]
