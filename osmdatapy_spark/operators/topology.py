"""Topology segmentation (reference G10 ``relation_topology``,
``osmdatapy/_frame.py:267-296``) as a pure window/join pipeline.

Semantics (reference README.md:25): ways are split at *shared* nodes —
nodes appearing more than once across the queried ways' member lists —
producing one row per segment with ``source``/``target`` end-node columns;
shared interior nodes belong to both adjacent segments (the reference
duplicates those rows via ``np.insert``).

Spark-first reformulation — instead of materializing duplicated node rows
then renumbering (reference O4 + W2), observe that a segment is exactly a
pair of *consecutive boundary nodes* within a way, where a boundary is the
way's first node, its last node, or a shared node.  That turns the whole
pipeline into:

    shared-count window (W3) → boundary filter → lead() pairing (W1)

i.e., two shuffles (one by node_id for the shared count, one by way_id for
the pairing) over a dataset already reduced to boundary rows.  At 100 TB
the node_id shuffle is the big one; it is a plain hash partition on a
high-cardinality key, and AQE handles the skew from mega-junction nodes.

Input is the exploded membership form ``(way_id, pos, node_id)`` —
``posexplode(refs)`` away from the array form, no window needed for pos.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit


def way_endpoints(way_refs: DataFrame, id_col: str = "way_id", pos_col: str = "pos", node_col: str = "node_id") -> DataFrame:
    """Per-way first/last node (reference A1 ``end_values``,
    _frame.py:298-303).  Returns (way_id, source, target, n_nodes).

    Single partial-aggregated shuffle: ``min_by``/``max_by`` on position
    fold map-side, so only one (way_id → 3 longs) row per way crosses the
    exchange.  (The window-first/last + distinct formulation costs TWO
    exchanges carrying full member rows — measured, see PLANS.md.)"""
    return way_refs.groupBy(id_col).agg(
        F.min_by(node_col, pos_col).alias("source"),
        F.max_by(node_col, pos_col).alias("target"),
        F.count("*").alias("n_nodes"),
    )


def topology_segments(
    way_refs: DataFrame,
    id_col: str = "way_id",
    pos_col: str = "pos",
    node_col: str = "node_id",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Split ways at shared nodes → one row per segment.

    Returns ``(way_id, seg, source, target, n_nodes)`` where ``seg`` is the
    0-based segment index within the way and ``n_nodes`` the member-node
    count of the segment (both endpoints inclusive).

    Reference parity: identical to ``relation_topology``'s
    ``(row, ix, source, target)`` output with the row-duplication step
    folded away (_frame.py:277-296).

    ``order_cols``: when the caller's member order is DEFINED by a
    row_number over some total order (rather than an existing position
    array), pass those ordering columns instead of a precomputed
    ``pos_col`` — the operator then derives ``pos`` itself INSIDE the
    way-keyed stage, after the node-count exchange.  Composing an
    external pos-window with this operator costs a way → node → way
    exchange sandwich (3 shuffles of the member set); the fused form is
    the designed 2.  Output is identical: row_number over the same
    (partition, order) yields the same pos.
    """
    # shared = node_id occurs >1 times across the whole membership set
    # (reference `res.ptid.duplicated(keep=False)`, _frame.py:277)
    w_node = Window.partitionBy(node_col)
    order = [col(c) for c in order_cols] if order_cols else [col(pos_col)]
    w_way = Window.partitionBy(id_col).orderBy(*order)

    # STAGED so the plan has exactly two exchanges: the node-count window
    # runs in its own select (exchange by node_id), THEN everything keyed
    # by way comes as one chain — is_first/is_last from the ascending sort
    # (lead-null marks the last row; no second descending sort), boundary
    # filter, and the pairing window, all reusing ONE exchange+sort by
    # (way_id, <order>).  Mixing the node window into the way-keyed select
    # makes Catalyst evaluate the way windows first and re-exchange by
    # way_id after the node count — a third shuffle for nothing
    # (observed; tests/test_plans.py pins the 2-exchange shape).
    shared = way_refs.select(
        "*",
        (F.count("*").over(w_node) > 1).alias("is_shared"),
    )

    # in fused mode pos comes from the SAME window spec as the boundary
    # markers, and the ordering columns survive the projection so the
    # pairing window below sorts by the identical expressions — Catalyst
    # then satisfies it from the boundary window's output order (one
    # exchange + one sort for the whole way-keyed chain)
    pos_out = F.row_number().over(w_way).alias(pos_col) if order_cols else col(pos_col)
    carry = [col(c) for c in order_cols] if order_cols else []
    boundaries = shared.select(
        col(id_col),
        pos_out,
        col(node_col),
        *carry,
        (
            col("is_shared")
            | (F.row_number().over(w_way) == 1)
            # lead of a literal is null exactly at the partition's last row
            # (never data-dependent — lead(pos)/lead(node) would also read
            # null on a null VALUE in the next row)
            | F.lead(lit(1)).over(w_way).isNull()
        ).alias("is_boundary"),
    ).filter(col("is_boundary"))

    # pairing runs over the boundary-filtered rows; within a way the kept
    # rows stay sorted by the same order expressions (pos is monotone in
    # them), so ordering by them again re-uses the existing sort
    w_pair = Window.partitionBy(id_col).orderBy(*order)
    seg = (
        boundaries.select(
            col(id_col),
            (F.row_number().over(w_pair) - 1).alias("seg"),
            col(node_col).alias("source"),
            F.lead(node_col).over(w_pair).alias("target"),
            (F.lead(pos_col).over(w_pair) - col(pos_col) + 1).alias("n_nodes"),
        )
        .filter(col("target").isNotNull())
    )
    return seg

