"""Shared helpers for suite queries — cross-engine determinism utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from osmdatapy_spark import memo
from osmdatapy_spark.session import tune_session
from osmdatapy_spark.tables import load_table, spread


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


def TS(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table load for CPU-bound per-row kernels (hashing, shingling,
    vector math): `spread` re-distributes a coarse small-file scan across
    all cores; a no-op at real scale (see tables.spread).  Memoized per
    live session like load_table — the spread decision (scan partition
    count vs default parallelism) is fixed per (session, table), and the
    .rdd partition probe costs driver round trips per call."""
    return memo.get(spark, "spread", (sf_dir, name), lambda: spread(T(spark, sf_dir, name)))


def coords_lookup(
    refs: DataFrame, nodes: DataFrame, node_col: str = "node_id", how: str = "inner"
) -> DataFrame:
    """J4 coordinate-lookup join (reference ``coords``, osmdata.py:81-84) —
    deliberately UNHINTED.

    The nodes table is OSM's *largest* relation (~1e9 rows at planet
    scale); a forced ``broadcast()`` hint overrides Catalyst's size check
    and becomes a driver OOM at 100x rather than a graceful sort-merge
    fallback.  Left unhinted, AQE broadcasts when runtime stats fall under
    ``autoBroadcastJoinThreshold`` (true at bench scale, so plans and
    timings are unchanged locally) and shuffle-joins on the id key
    otherwise — the J4 discipline (SURVEY §1.5 J4: "broadcast if small,
    else sort-merge on bucketed osmid").  ``tests/test_plans.py`` pins hint-absence by disabling
    auto-broadcast and asserting no BroadcastHashJoin survives.
    """
    return refs.join(nodes, node_col, how)


def dec(c: str | Column, prec: int = 18, scale: int = 4) -> Column:
    """Exact-decimal view of a float column.

    The synthetic data is decimal-exact at <=4 places (verified), so
    aggregating in DECIMAL is exact and order-independent — the only way a
    parallel Spark sum and a single-threaded DuckDB sum can be
    bit-identical after CAST to DOUBLE.
    """
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def dsum(c: str | Column, prec: int = 18, scale: int = 4) -> Column:
    """Order-independent exact sum of a float column, as DOUBLE."""
    return F.sum(dec(c, prec, scale)).cast("double")
