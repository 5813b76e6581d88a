"""Ring assembly: endpoint chaining of relation member ways into rings
(reference G6 ``_reorder_ring``, ``osmdatapy/_frame.py:181-215``).

This is the one genuinely sequential-per-group algorithm in the reference
(SURVEY.md §7 "what's hard" #1): ways of a multipolygon relation must be
chained end-to-end, flipping direction when a way is stored reversed, and
a new ring starts whenever the chain breaks.  Group sizes are small
(a relation's member count), so the Spark shape is a JVM-side
``groupBy(rel_id).agg(collect_list(...))`` — one partial-aggregated
exchange carrying the member arrays through Arrow — followed by ONE
``mapInPandas`` kernel that chains thousands of relations per Arrow
batch (``groupBy().applyInPandas`` was measured at ~4-5 ms of per-GROUP
plumbing; at one group per relation that dominated the pipeline).  At
100 TB this scales linearly: the shuffle key (rel_id) is
high-cardinality and the per-relation work is O(n²) worst-case on
n = ways-per-relation (bounded, typically <1k).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmdatapy_spark import memo
from osmdatapy_spark._pyworker import kernel


def _chain(s, t, roles):
    """Greedy endpoint chaining, reference semantics (_frame.py:181-215):

    start from the first way (input order), walk from its target node; at
    each step take the first untraversed way whose source matches the open
    node (forward, direction=1), else whose target matches (reversed,
    direction=-1), else start a new ring at the next untraversed way.
    Deterministic given input order (member position within the relation).

    Returns (pos, direction, ring, ring_roles): per-member chain position,
    orientation, 0-based ring index, and per-ring starting-member role.
    """
    n = len(s)
    trav = [False] * n
    pos = [0] * n
    direction = [1] * n
    ring = [0] * n
    ring_roles = [roles[0] if n else None]
    if not n:
        return pos, direction, ring, ring_roles

    trav[0] = True
    node = t[0]
    cur_ring = 0
    for step in range(1, n):
        nxt = next((i for i in range(n) if not trav[i] and s[i] == node), None)
        if nxt is not None:
            node = t[nxt]
        else:
            nxt = next((i for i in range(n) if not trav[i] and t[i] == node), None)
            if nxt is not None:
                node = s[nxt]
                direction[nxt] = -1
            else:
                nxt = next(i for i in range(n) if not trav[i])
                node = t[nxt]
                cur_ring += 1
                ring_roles.append(roles[nxt])
        trav[nxt] = True
        pos[nxt] = step
        ring[nxt] = cur_ring
    return pos, direction, ring, ring_roles


CHAIN_SCHEMA = "rel_id long, ring int, nodes array<bigint>, ring_role string, kind string"


def _chain_rel(rel_id, ms, kind):
    """Chain + sequence ONE relation from its collected member structs
    (sorted by member_pos) — the per-relation core of ``ring_chains``'
    batched kernel.  Returns column lists."""
    ms = sorted(ms, key=lambda m: m["member_pos"])
    refs = [list(m["refs"]) if m["refs"] is not None else [] for m in ms]
    roles = [m["role"] if "role" in m else None for m in ms]
    s = [r[0] if r else None for r in refs]
    t = [r[-1] if r else None for r in refs]
    pos, direction, ring, ring_roles = _chain(s, t, roles)
    order = sorted(range(len(ms)), key=lambda i: pos[i])
    seqs: dict[int, list] = {}
    for i in order:
        nodes = refs[i][::-1] if direction[i] == -1 else refs[i]
        r = ring[i]
        if r in seqs:
            seqs[r].extend(nodes[1:])
        else:
            seqs[r] = list(nodes)
    rings = sorted(seqs)
    return (
        [rel_id] * len(rings),
        rings,
        [seqs[r] for r in rings],
        [ring_roles[r] for r in rings],
        [kind] * len(rings),
    )


def ring_chains(members: DataFrame) -> DataFrame:
    """Chain member ways into rings AND expand to ordered node sequences
    (reference ``_reorder_ring`` + node-sequence dedup, _frame.py:152-215):
    each ring's ways in chain order, reversed where stored against the
    chain, the joint node shared by consecutive ways kept once.

    Input: ``(rel_id, way_id, member_pos, refs ARRAY<LONG>[, role, kind])``.
    Output: ``(rel_id, ring, nodes ARRAY<LONG>, ring_role, kind)`` with
    OPEN node sequences (area callers close via ``close_rings``).

    Scale: ONE shuffle by rel_id (a JVM-side collect_list aggregation —
    partial-aggregated, refs ride the exchange through Arrow), then ONE
    ``mapInPandas`` kernel that chains THOUSANDS of relations per Arrow
    batch.  The round-7 profiling found the previous
    ``groupBy().applyInPandas`` shape paid ~4-5 ms of per-GROUP
    pandas/serialization overhead — at one group per relation that was
    ~40 s per 10k relations of pure plumbing; batching drops it to a
    per-row Python loop (~0.1 ms/relation).  Per-relation payload is the
    relation's total member nodes — bounded by real-world relation sizes.
    """
    has_role = "role" in members.columns
    has_kind = "kind" in members.columns
    m_struct = F.struct(
        F.col("member_pos"),
        F.col("refs"),
        *([F.col("role")] if has_role else []),
    )
    agg = members.groupBy("rel_id").agg(
        F.collect_list(m_struct).alias("ms"),
        *([F.min("kind").alias("kind")] if has_kind else []),
    )

    @kernel
    def batch(batches):
        for pdf in batches:
            rel_l, ring_l, nodes_l, role_l, kind_l = [], [], [], [], []
            kinds = pdf["kind"] if "kind" in pdf.columns else [None] * len(pdf)
            for rel_id, ms, kind in zip(pdf["rel_id"], pdf["ms"], kinds):
                a, b, c, d, e = _chain_rel(rel_id, ms, kind)
                rel_l += a
                ring_l += b
                nodes_l += c
                role_l += d
                kind_l += e
            yield pd.DataFrame(
                {
                    "rel_id": pd.array(rel_l, dtype="int64"),
                    "ring": pd.array(ring_l, dtype="int32"),
                    "nodes": nodes_l,
                    "ring_role": role_l,
                    "kind": kind_l,
                }
            )

    return agg.mapInPandas(batch, schema=CHAIN_SCHEMA)


ASSIGN_SCHEMA = (
    "rel_id long, ring int, role string, poly int, "
    "coords array<struct<lon:double,lat:double>>"
)


def _point_in_ring_py(coords, px: float, py: float) -> bool:
    """Even-odd containment, the exact Python twin of
    ``measures.ray_cast_crossings`` (same division-free IEEE ops on
    float64 — bit-identical verdicts): odd crossings ⇒ inside."""
    closed = list(coords) + [coords[0]]
    cnt = 0
    for a, b in zip(closed[:-1], closed[1:]):
        ax, ay = a["lon"], a["lat"]
        bx, by = b["lon"], b["lat"]
        if (ay > py) != (by > py):
            lhs = (px - ax) * (by - ay)
            rhs = (bx - ax) * (py - ay)
            if (lhs < rhs) if by > ay else (lhs > rhs):
                cnt += 1
    return cnt % 2 == 1


def _assign_rel(rings):
    """Polygon-index assignment for ONE relation's rings — the G8/G9 +
    containment-nesting core shared by the batched kernel.

    ``rings``: list of (ring, role-or-None, coords) sorted by ring.
    Returns rows (ring, role, poly, coords).

    Simple relations (≤1 inner OR ≤1 outer): the reference's positional
    G9 — poly = running count of outer rings (ring order) − 1.  Complex
    relations (>1 inner AND >1 outer, which the reference G8-drops,
    _frame.py:234-244): each inner attaches to the outer ring containing
    its first vertex (bbox gate + even-odd ray cast), choosing the
    smallest containing outer (tie → lowest ring id); uncontained inners
    drop — the reference fallback for truly broken relations.  Ring
    counts are bounded per OSM entity, so per-relation work is O(rings²)
    worst case on tiny n — the same scale contract as the chain kernel."""
    roles = [r if r is not None else "outer" for _, r, _ in rings]
    is_inner = [r == "inner" for r in roles]
    n_in = sum(is_inner)
    n_out = len(roles) - n_in
    rows = []  # (ring, role, poly, coords)
    if n_in > 1 and n_out > 1:
        outers = []  # (ring, poly, coords, |area|, bbox)
        poly = 0
        for i, (ring, _, cs) in enumerate(rings):
            if is_inner[i]:
                continue
            xs = [c["lon"] for c in cs]
            ys = [c["lat"] for c in cs]
            area = abs(
                sum(
                    cs[j]["lon"] * cs[(j + 1) % len(cs)]["lat"]
                    - cs[(j + 1) % len(cs)]["lon"] * cs[j]["lat"]
                    for j in range(len(cs))
                )
                / 2.0
            )
            outers.append((ring, poly, cs, area, (min(xs), max(xs), min(ys), max(ys))))
            rows.append((ring, "outer", poly, cs))
            poly += 1
        for i, (ring, _, cs) in enumerate(rings):
            if not is_inner[i]:
                continue
            px, py = cs[0]["lon"], cs[0]["lat"]
            best = None  # (|area|, ring, poly)
            for oring, pl, ocs, area, (x0, x1, y0, y1) in outers:
                if x0 <= px <= x1 and y0 <= py <= y1 and _point_in_ring_py(ocs, px, py):
                    k = (area, oring, pl)
                    if best is None or k < best:
                        best = k
            if best is not None:
                rows.append((ring, "inner", best[2], cs))
    else:
        run = 0
        for i, (ring, _, cs) in enumerate(rings):
            if not is_inner[i]:
                run += 1
            rows.append((ring, "inner" if is_inner[i] else "outer", run - 1, cs))
    return rows


def missing_vertex_sql(coords: str) -> str:
    """SQL predicate: the coordinate array ``coords`` holds a vertex with a
    null lon or lat (its node is not in the extract)."""
    return f"exists({coords}, __c -> __c.lon IS NULL OR __c.lat IS NULL)"


def assign_polygons(ring_coords: DataFrame) -> DataFrame:
    """Classify closed rings into polygons per relation (G8/G9 +
    containment nesting).

    Input: ``(rel_id, ring, ring_role, coords ARRAY<STRUCT<lon,lat>>)``
    (extra columns ignored).  Output: ``(rel_id, ring, role, poly,
    coords)`` — poly is the 0-based polygon index within the relation;
    dropped inner rings (reference-G8 fallback) are absent.  A relation
    with a ring vertex of null coordinates (a node the extract does not
    hold, as clipped extracts have) is absent as a whole: it has no
    polygon, the rule a way with a missing vertex follows.

    Scale: ONE shuffle by rel_id (JVM-side collect_list aggregation —
    coordinate arrays ride the exchange through Arrow), then ONE
    ``mapInPandas`` kernel classifying thousands of relations per Arrow
    batch (the batched shape of ``ring_chains`` — per-GROUP
    applyInPandas overhead was ~4-5 ms/relation of pure plumbing);
    downstream polygon/WKT groupBys reuse the rel_id partitioning
    (subset rule) — zero further exchanges."""
    agg = (
        ring_coords.select("rel_id", "ring", "ring_role", "coords")
        .groupBy("rel_id")
        .agg(F.collect_list(F.struct("ring", "ring_role", "coords")).alias("rs"))
        .filter(memo.expr(f"NOT exists(rs, __r -> {missing_vertex_sql('__r.coords')})"))
    )

    @kernel
    def batch(batches):
        for pdf in batches:
            rel_l, ring_l, role_l, poly_l, coords_l = [], [], [], [], []
            for rel_id, rs in zip(pdf["rel_id"], pdf["rs"]):
                rings = sorted(
                    ((r["ring"], r["ring_role"], r["coords"]) for r in rs),
                    key=lambda x: x[0],
                )
                for ring, role, poly, cs in _assign_rel(rings):
                    rel_l.append(rel_id)
                    ring_l.append(ring)
                    role_l.append(role)
                    poly_l.append(poly)
                    coords_l.append(cs)
            yield pd.DataFrame(
                {
                    "rel_id": pd.array(rel_l, dtype="int64"),
                    "ring": pd.array(ring_l, dtype="int32"),
                    "role": role_l,
                    "poly": pd.array(poly_l, dtype="int32"),
                    "coords": coords_l,
                }
            )

    return agg.mapInPandas(batch, schema=ASSIGN_SCHEMA)
