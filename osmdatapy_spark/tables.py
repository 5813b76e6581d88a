"""Loaders for the driver's synthetic star schema + documents/embeddings.

One parquet file per table (TESTDATA.md).  Reads are plain
``spark.read.parquet`` so Catalyst column pruning and predicate pushdown
reach the scan (verify with ``.explain``: ``PushedFilters`` / ``ReadSchema``).

At 100 TB these would be partitioned/bucketed tables; the loader keeps the
same names so the suite is storage-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmdatapy_spark import memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nano-precision parquet timestamp read as LONG (see session.py);
        # truncate to microseconds — the same truncation DuckDB applies when
        # casting TIMESTAMP_NS to TIMESTAMP
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table handle for ``{sf_dir}/{name}.parquet``, memoized per live
    session (``memo``): ``spark.read.parquet`` costs ~0.12 s of driver
    time (py4j round trips + a footer/schema read) that every query
    construction would re-pay per table.  The handle is an immutable plan
    (schema + file index), not data: every action still scans the files.

    Static-dataset assumption: the handle freezes the directory's file
    listing.  After rewriting a dataset in-session, call
    ``memo.invalidate(sf_dir)`` so the next load re-lists it."""
    return memo.get(spark, "table", (sf_dir, name), lambda: _read_table(spark, sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so the engine's second entry
    point — plain ``spark.sql(...)`` — works against the same data the
    DataFrame API sees.  Views go through ``load_table``, so physical
    quirks (nano-timestamp events) are normalized identically."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame, min_factor: float = 0.5) -> DataFrame:
    """Give a CPU-bound per-row kernel cluster-wide parallelism.

    Parquet scans split only at row-group boundaries, so a small file
    yields a handful of tasks no matter how many cores exist — a
    hash-per-k-gram kernel then serializes on 2 of 32 cores (measured 8x
    wall-clock loss on the sf0.1 documents table).  When the scan's
    partition count is below ``min_factor * defaultParallelism``,
    round-robin repartition to the default parallelism; otherwise return
    the input unchanged.  At 100 TB every table has thousands of row
    groups, the guard never fires, and no shuffle is added — this is a
    small-extract affordance, not a plan fixture.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_factor)):
        return df.repartition(target)
    return df
