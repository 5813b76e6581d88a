"""Property-based checks (hypothesis): the Query truth table against a
pure-Python reference evaluator, and topology invariants over random way
sets.  Cases are generated in bulk and evaluated in ONE DataFrame per
hypothesis example so Spark roundtrips stay cheap."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from osmdatapy_spark.operators.topology import topology_segments
from osmdatapy_spark.query import Query

from conftest import pbf_rows

KEYS = ["highway", "building", "amenity", "access", "area"]
VALS = ["primary", "yes", "no", "cafe", "private"]

tag_maps = st.dictionaries(st.sampled_from(KEYS), st.sampled_from(VALS), max_size=4)
filter_dicts = st.dictionaries(
    st.sampled_from(KEYS),
    st.lists(st.sampled_from(VALS), max_size=2),  # [] = any value
    min_size=1,
    max_size=3,
)


def py_filter_match(tags: dict, fd: dict | None) -> bool:
    """Reference semantics of _validate_tagval (primitives.py:186-215)."""
    if fd is None:
        return False
    for k, vals in fd.items():
        if k in tags and (not vals or tags[k] in vals):
            return True
    return False


def py_query_keeps(tags: dict, keep, exclude, keep_first, must) -> bool:
    if must is not None and not any(k in tags for k in must):
        return False
    if keep is None and exclude is None:
        return True
    kps = py_filter_match(tags, keep)
    exs = py_filter_match(tags, exclude)
    return (kps and not exs) if keep_first else (not exs or kps)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    maps=st.lists(tag_maps, min_size=1, max_size=30),
    keep=st.one_of(st.none(), filter_dicts),
    exclude=st.one_of(st.none(), filter_dicts),
    keep_first=st.booleans(),
    must=st.one_of(st.none(), st.lists(st.sampled_from(KEYS), min_size=1, max_size=2)),
)
def test_query_truth_table_matches_python(spark, maps, keep, exclude, keep_first, must):
    try:
        q = Query(
            nodes=True, keep=keep, exclude=exclude, keep_first=keep_first, must_tags=must
        )
    except ValueError:
        return  # invalid keep/exclude combination — validator's job
    df = spark.createDataFrame(
        [(i, 0, m) for i, m in enumerate(maps)],
        "osmid long, osmtype int, tags map<string,string>",
    )
    got = sorted(r["osmid"] for r in df.filter(q.compile()).collect())
    want = sorted(
        i for i, m in enumerate(maps) if py_query_keeps(m, keep, exclude, keep_first, must)
    )
    assert got == want, f"keep={keep} exclude={exclude} kf={keep_first} must={must}"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ways=st.dictionaries(
        st.integers(1, 20),
        st.lists(st.integers(1, 15), min_size=2, max_size=8),
        min_size=1,
        max_size=8,
    )
)
def test_topology_invariants_random(spark, ways):
    rows = [(wid, pos, nid) for wid, nds in ways.items() for pos, nid in enumerate(nds)]
    df = spark.createDataFrame(rows, "way_id long, pos int, node_id long")
    segs = topology_segments(df).collect()
    flat = [n for nds in ways.values() for n in nds]
    shared = {n for n in flat if flat.count(n) > 1}
    for wid, nds in ways.items():
        wsegs = sorted((s for s in segs if s["way_id"] == wid), key=lambda s: s["seg"])
        # endpoints preserved
        assert wsegs[0]["source"] == nds[0]
        assert wsegs[-1]["target"] == nds[-1]
        # consecutive segments chain through shared interior nodes only
        for a, b in zip(wsegs, wsegs[1:]):
            assert a["target"] == b["source"]
            assert a["target"] in shared
        # segment seams are exactly the shared interior nodes
        interior_shared = [n for n in nds[1:-1] if n in shared]
        assert len(wsegs) == len(interior_shared) + 1
        # node counts cover the way with seams double-counted
        assert sum(s["n_nodes"] for s in wsegs) == len(nds) + len(wsegs) - 1


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from osmdatapy_spark.functions.dedup import connected_components

    # python union-find oracle
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster"] for r in connected_components(df).collect()}
    assert got == expect


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=9).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_paragraph_dedup_invariants_random(spark, texts):
    """Random corpora: (1) token multiset of every dedup_text is a subset
    of the original in order; (2) Σ n_kept == number of DISTINCT
    paragraphs corpus-wide; (3) dedup is idempotent (running it on its own
    output keeps everything)."""
    from osmdatapy_spark.functions.curation import paragraph_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = paragraph_dedup(docs, block=2).collect()
    by_id = {r.doc_id: r for r in out}

    # distinct paragraph count invariant
    import math

    def blocks(t):
        toks = t.split(" ")
        return [" ".join(toks[i : i + 2]) for i in range(0, len(toks), 2)]

    distinct = len({p for t in texts for p in blocks(t)})
    assert sum(r.n_kept for r in out) == distinct

    # survivors are an ordered subsequence of the original blocks
    for i, t in enumerate(texts):
        kept = by_id[i].dedup_text.split(" ") if by_id[i].dedup_text else []
        orig = t.split(" ")
        it = iter(orig)
        assert all(tok in it for tok in kept), (kept, orig)

    # idempotence: every surviving paragraph is globally unique now
    redo = paragraph_dedup(
        spark.createDataFrame(
            [(r.doc_id, r.dedup_text) for r in out if r.dedup_text], "doc_id long, text string"
        ),
        block=2,
    ).collect()
    assert all(r.n_kept == r.n_paras for r in redo)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50), st.integers(min_value=-50, max_value=50)
        ),
        min_size=1,
        max_size=12,
    ),
    eps=st.sampled_from([1.0, 5.0, 25.0]),
)
def test_simplify_radial_invariants_random(spark, pts, eps):
    """(1) first vertex always kept; (2) consecutive kept vertices are
    >= eps apart (except possibly none when input has one point);
    (3) output is a subsequence of the input."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from osmdatapy_spark.operators.measures import simplify_radial

    arr = F.array(
        *[
            F.struct(F.lit(float(x)).alias("lon"), F.lit(float(y)).alias("lat"))
            for x, y in pts
        ]
    )
    out = (
        spark.range(1)
        .select(simplify_radial(arr, eps).alias("s"))
        .collect()[0]
        .s
    )
    kept = [(p["lon"], p["lat"]) for p in out]
    assert kept[0] == (float(pts[0][0]), float(pts[0][1]))
    for a, b in zip(kept, kept[1:]):
        d2 = (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
        assert d2 >= eps * eps
    it = iter([(float(x), float(y)) for x, y in pts])
    assert all(p in it for p in kept)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    nodes=st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.floats(min_value=-179.9999999, max_value=179.9999999, allow_nan=False, width=64),
            st.floats(min_value=-89.9999999, max_value=89.9999999, allow_nan=False, width=64),
            st.dictionaries(
                st.text(min_size=1, max_size=6), st.text(max_size=8), max_size=3
            ),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda n: n[0],
    ),
    codec=st.sampled_from(["raw", "zlib", "lzma", "bz2"]),
)
def test_codec_dense_node_roundtrip_fuzz(nodes, codec):
    """Encoder→decoder round-trip over adversarial ids (negative,
    2^40-scale deltas), coordinates, unicode tags, and every stdlib codec:
    ids/tags exact, coords within the 1e-7 granularity quantum."""
    import tempfile

    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter(codec=codec)
    w.add_dense_nodes(nodes)
    with tempfile.NamedTemporaryFile(suffix=".osm.pbf") as f:
        w.write(f.name)
        decoded = [e for e in pbf_rows(f.name) if e.osmtype == 0]
    got = {e.osmid: e for e in decoded}
    assert set(got) == {n[0] for n in nodes}
    for nid, lon, lat, tags in nodes:
        e = got[nid]
        assert abs(e.lon - lon) < 2e-7 and abs(e.lat - lat) < 2e-7
        assert dict(e.tags) == tags


# --- canonical_url properties ----------------------------------------------

url_strategy = st.builds(
    lambda scheme, www, host, path, params, frag, slash: (
        scheme + www + host + "/" + "/".join(path)
        + ("/" if slash and path else "")
        + ("?" + "&".join(params) if params else "")
        + ("#" + frag if frag else "")
    ),
    scheme=st.sampled_from(["", "http://", "https://", "HTTPS://"]),
    www=st.sampled_from(["", "www.", "WWW."]),
    host=st.sampled_from(["example.com", "Sub.Example.org", "a.io"]),
    path=st.lists(st.sampled_from(["a", "B", "page-1", "x_y"]), max_size=3),
    params=st.lists(
        st.sampled_from(
            ["id=3", "q=x", "utm_source=t", "utm_campaign=c", "fbclid=z", "ref=9", "b=2", "a=1"]
        ),
        max_size=4,
        unique=True,
    ),
    frag=st.sampled_from(["", "top", "frag-7"]),
    slash=st.booleans(),
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(urls=st.lists(url_strategy, min_size=1, max_size=40, unique=True))
def test_canonical_url_idempotent_and_tracking_free(spark, urls):
    """canonical_url is IDEMPOTENT (canon(canon(u)) == canon(u)) and its
    output never contains a tracking param, scheme, www. prefix, fragment,
    or trailing slash — for any URL shape, not just the suite's."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from osmdatapy_spark.functions.curation import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        canonical_url(col("url")).alias("c1"),
        canonical_url(canonical_url(col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r.c1 == r.c2, (r.c1, r.c2)
        assert "utm_" not in r.c1 and "fbclid" not in r.c1 and "ref=" not in r.c1
        assert "://" not in r.c1 and not r.c1.startswith("www.")
        assert "#" not in r.c1
        assert not r.c1.endswith("/") or r.c1 == "/"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    segs=st.lists(
        st.tuples(
            st.integers(min_value=-60, max_value=60),
            st.integers(min_value=-60, max_value=60),
            st.integers(min_value=-60, max_value=60),
            st.integers(min_value=-60, max_value=60),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_clip_segment_bbox_invariants_random(spark, segs):
    """Liang-Barsky invariants against a brute-force python clip:
    (1) keep/drop decision matches an independent dense-sampling check;
    (2) clipped endpoints lie inside the (slightly padded) box;
    (3) segments entirely inside come through unchanged."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from osmdatapy_spark.operators.measures import clip_segment_bbox

    X0, X1, Y0, Y1 = -25.0, 25.0, -15.0, 15.0
    df = spark.createDataFrame(
        [(i, float(a), float(b), float(c), float(d)) for i, (a, b, c, d) in enumerate(segs)],
        "id long, ax double, ay double, bx double, by double",
    )
    t0, t1 = clip_segment_bbox(col("ax"), col("ay"), col("bx"), col("by"), X0, X1, Y0, Y1)
    out = df.select("id", "ax", "ay", "bx", "by", t0.alias("t0"), t1.alias("t1")).collect()

    for r in out:
        ax, ay, bx, by = r["ax"], r["ay"], r["bx"], r["by"]
        kept = r["t0"] <= r["t1"]
        # dense-sampling reference: does ANY sampled point of the segment
        # fall inside the box? (1e-9 pad for the parametric boundary)
        hits = any(
            X0 - 1e-6 <= ax + t * (bx - ax) <= X1 + 1e-6
            and Y0 - 1e-6 <= ay + t * (by - ay) <= Y1 + 1e-6
            for t in (i / 2000 for i in range(2001))
        )
        assert kept == hits or (kept and not hits), (
            # a segment can clip to a sliver the sampling grid misses;
            # the reverse (sampling hit but clip dropped) is a real bug
            f"clip dropped an intersecting segment: {r}"
        )
        if kept:
            for t in (r["t0"], r["t1"]):
                px, py = ax + t * (bx - ax), ay + t * (by - ay)
                assert X0 - 1e-9 <= px <= X1 + 1e-9 and Y0 - 1e-9 <= py <= Y1 + 1e-9, r
            if X0 <= min(ax, bx) and max(ax, bx) <= X1 and Y0 <= min(ay, by) and max(ay, by) <= Y1:
                assert r["t0"] == 0.0 and r["t1"] == 1.0, r


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12), st.integers(1, 9)),
        min_size=1,
        max_size=25,
    ),
    iters=st.integers(1, 4),
)
def test_bellman_ford_matches_bruteforce(spark, edges, iters):
    """Bounded Bellman-Ford == brute-force min over all <=iters-edge paths
    from the seed, on random small weighted digraphs."""
    from osmdatapy_spark.operators.graph import bellman_ford_integer

    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node_id long")
    got = {
        r["node_id"]: r["dist"]
        for r in bellman_ford_integer(edf, seeds, iters=iters).collect()
    }
    # python reference: iterate relaxation exactly `iters` times
    dist = {1: 0}
    for _ in range(iters):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, 1 << 60):
                nxt[d] = dist[s] + w
        dist = nxt
    assert got == dist, (edges, iters)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 10), st.integers(1, 10)), min_size=1, max_size=25
    )
)
def test_triangle_count_matches_bruteforce(spark, edges):
    """The oriented wedge join == brute-force triangle enumeration on
    random undirected graphs (per-node participation counts)."""
    from itertools import combinations

    from osmdatapy_spark.suite.analytics import osm_triangle_count  # noqa: F401

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    if not und:
        return
    # brute force
    nodes = sorted({n for e in und for n in e})
    counts: dict[int, int] = {}
    for a, b, c in combinations(nodes, 3):
        if ((a, b) in und) and ((b, c) in und) and ((a, c) in und):
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1

    # replicate the suite's oriented-wedge pipeline on this edge set
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col, lit

    e = spark.createDataFrame(sorted(und), "a long, b long")
    deg = (
        e.select(col("a").alias("v"))
        .unionAll(e.select(col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    k = deg.select("v", (col("d") * lit(1_000_000) + col("v")).alias("kk"))
    ka = k.select(col("v").alias("a"), col("kk").alias("ka"))
    kb = k.select(col("v").alias("b"), col("kk").alias("kb"))
    o = (
        e.join(ka, "a").join(kb, "b")
        .select(
            F.when(col("ka") < col("kb"), col("a")).otherwise(col("b")).alias("s"),
            F.when(col("ka") < col("kb"), col("b")).otherwise(col("a")).alias("t"),
            F.greatest("ka", "kb").alias("kt"),
        )
    )
    o1 = o.select(col("s").alias("s1"), col("t").alias("y"), col("kt").alias("k1"))
    o2 = o.select(col("s").alias("s1"), col("t").alias("z"), col("kt").alias("k2"))
    wedges = o1.join(o2, "s1").filter(col("k1") < col("k2"))
    closer = o.select(col("s").alias("y"), col("t").alias("z"))
    tri = wedges.join(closer, ["y", "z"]).select(col("s1").alias("x"), "y", "z")
    per_node = (
        tri.select(col("x").alias("v"))
        .unionAll(tri.select(col("y").alias("v")))
        .unionAll(tri.select(col("z").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n"))
    )
    got = {r["v"]: r["n"] for r in per_node.collect()}
    assert got == counts, sorted(und)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    values=st.lists(
        st.integers(-500, 500).map(lambda v: v / 4.0), min_size=1, max_size=40
    ),
    target=st.integers(-20, 20).map(float),
)
def test_cusum_linearization_matches_recurrence(spark, values, target):
    """The prefix identity s_i = cum_i - min(0, min_{j<=i} cum_j) must
    equal Page's sequential recurrence s_i = max(0, s_{i-1} + x - target)
    for ANY series — the window formulation rel_cusum_drift relies on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "i long, x double")
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(col("x").cast("decimal(19,4)") - target).over(w).cast("decimal(28,4)")
    seq = df.select("i", cum.alias("cum"))
    mn = F.min("cum").over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
    out = {
        r["i"]: float(r["s"])
        for r in seq.select(
            "i",
            (
                col("cum")
                - F.least(F.lit(0).cast("decimal(28,4)"), mn)
            ).alias("s"),
        ).collect()
    }
    # sequential reference in exact quarter-unit integers
    s, want = 0, {}
    for i, v in enumerate(values):
        s = max(0, s + round(v * 4) - round(target * 4))
        want[i] = s / 4.0
    assert out == want, (values, target)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    layout=st.lists(  # per outer: (cell index 0..15, number of inners 0..3)
        st.tuples(st.integers(0, 15), st.integers(0, 3)),
        min_size=2,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
)
def test_assign_polygons_random_nesting(spark, layout):
    """Containment nesting on randomly laid-out squares: outers on a
    disjoint 4×4 cell grid (10° cells, 8° squares), each with 0-3 inner
    squares strictly inside it.  Every inner must attach to exactly its
    geometric parent regardless of ring order — the positional G9 rule
    would mis-assign any inner that doesn't directly follow its outer."""
    from osmdatapy_spark.operators.rings import assign_polygons

    def sq(x0, y0, d):
        return [
            {"lon": float(x), "lat": float(y)}
            for x, y in [(x0, y0), (x0 + d, y0), (x0 + d, y0 + d), (x0, y0 + d), (x0, y0)]
        ]

    rows, want = [], {}  # ring -> expected outer cell
    ring = 0
    outer_rings = {}
    for cell, _ in layout:  # all outers first (worst case for positional)
        x0, y0 = (cell % 4) * 10.0, (cell // 4) * 10.0
        rows.append((1, ring, "outer", sq(x0 + 1.0, y0 + 1.0, 8.0)))
        outer_rings[cell] = ring
        ring += 1
    n_inner = 0
    for cell, k in layout:
        x0, y0 = (cell % 4) * 10.0, (cell // 4) * 10.0
        for j in range(k):
            rows.append((1, ring, "inner", sq(x0 + 2.0 + j * 1.5, y0 + 2.0, 1.0)))
            want[ring] = outer_rings[cell]
            ring += 1
            n_inner += 1
    df = spark.createDataFrame(
        rows,
        "rel_id long, ring int, ring_role string, "
        "coords array<struct<lon:double,lat:double>>",
    )
    out = {r["ring"]: (r["role"], r["poly"]) for r in assign_polygons(df).collect()}
    # outer poly index = ring order among outers
    polys = {}
    for i, (cell, _) in enumerate(layout):
        assert out[outer_rings[cell]] == ("outer", i)
        polys[outer_rings[cell]] = i
    if n_inner > 1:  # complex path: containment assignment
        for inner_ring, outer_ring in want.items():
            assert out[inner_ring] == ("inner", polys[outer_ring]), (layout, inner_ring)
    else:  # ≤1 inner: reference positional path — inner trails ALL outers,
        # so it positionally attaches to the LAST outer
        for inner_ring in want:
            assert out[inner_ring] == ("inner", len(layout) - 1)


# ---------------------------------------------------------------------------
# Bbox-cover containment join == brute force, for any cell size
# ---------------------------------------------------------------------------

_coord = st.floats(min_value=-50.0, max_value=50.0, allow_nan=False, width=32)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rings=st.lists(
        st.lists(st.tuples(_coord, _coord), min_size=3, max_size=7),
        min_size=1,
        max_size=5,
    ),
    pts=st.lists(st.tuples(_coord, _coord), min_size=1, max_size=12),
    cell=st.sampled_from([0.7, 3.0, 17.0, 200.0]),
)
def test_point_in_polygon_join_matches_brute_force(spark, rings, pts, cell):
    """The grid-blocked join must return EXACTLY the blocking-free pairs
    of its documented contract (closed-bbox gate + even-odd ray cast)
    for arbitrary — possibly self-intersecting or zero-area — rings,
    arbitrary probe points, and any cell size: cell_deg is a performance
    knob, never a correctness knob.  (The raw ungated ray cast can call
    a point STRICTLY OUTSIDE a degenerate sliver's bbox 'inside' when
    the ray passes exactly through vertex ordinates — hypothesis found
    the denormal-off-a-zero-area-ring case — which is why the gate is
    part of the operator's contract, not just an optimization.)"""
    from pyspark.sql import functions as F

    from osmdatapy_spark.operators.measures import (
        point_in_polygon_join,
        point_in_ring,
    )

    rdf = spark.createDataFrame(
        [(i, [{"lon": float(x), "lat": float(y)} for x, y in r]) for i, r in enumerate(rings)],
        "rid long, coords array<struct<lon double, lat double>>",
    )
    pdf = spark.createDataFrame(
        [(j, float(x), float(y)) for j, (x, y) in enumerate(pts)],
        "pid long, px double, py double",
    )
    got = sorted(
        (r.pid, r.rid) for r in point_in_polygon_join(pdf, rdf, cell).collect()
    )
    lons = F.transform(F.col("coords"), lambda s: s["lon"])
    lats = F.transform(F.col("coords"), lambda s: s["lat"])
    in_bbox = F.col("px").between(F.array_min(lons), F.array_max(lons)) & F.col(
        "py"
    ).between(F.array_min(lats), F.array_max(lats))
    want = sorted(
        (r.pid, r.rid)
        for r in pdf.crossJoin(rdf)
        .filter(in_bbox & point_in_ring("coords", "px", "py"))
        .collect()
    )
    assert got == want


@given(
    metas=st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),  # version
            st.integers(min_value=-(2**53), max_value=2**53),      # timestamp (s)
            st.integers(min_value=-(2**53), max_value=2**53),      # changeset
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_metadata_wire_roundtrip_property(metas, tmp_path_factory):
    """Arbitrary (version, timestamp, changeset) triples — INCLUDING
    negatives (pre-1970 timestamps; proto int32/int64 semantics) —
    round-trip EXACTLY through DenseInfo (parallel arrays, zigzag deltas
    — out-of-order timestamps produce negative deltas on the wire) and
    through per-element Info submessages (two's-complement varints), for
    every element kind."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    w.add_dense_nodes(
        [(i + 1, 0.0, 0.0, {}, m) for i, m in enumerate(metas)]
    )
    w.add_ways(
        [(1000 + i, [1], {}, m) for i, m in enumerate(metas)]
    )
    w.add_relations(
        [(5000 + i, [(1000 + i, 1, "outer")], {}, m) for i, m in enumerate(metas)]
    )
    p = str(tmp_path_factory.mktemp("meta") / "m.osm.pbf")
    w.write(p)

    els = pbf_rows(p, with_metadata=True)
    by_id = {(e.osmtype, e.osmid): (e.version, e.timestamp, e.changeset) for e in els}
    for i, m in enumerate(metas):
        assert by_id[(0, i + 1)] == m
        assert by_id[(1, 1000 + i)] == m
        assert by_id[(2, 5000 + i)] == m
