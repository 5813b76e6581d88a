"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[N]`` but every setting is chosen for the
1000-executor / 100 TB case and merely *also* works locally:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE re-plans from map output
  statistics.
- Arrow execution for the few pandas-UDF kernels (ring chaining, optional
  geometry) — batch transfer, never per-row pickling.
- ``spark.sql.shuffle.partitions`` sized by env (32 locally; a cluster
  deployment overrides to ~2-3× total cores, then AQE coalesces).
- session timezone pinned to UTC so timestamp semantics are stable across
  driver/executor locales (and match the DuckDB oracle).
- a generated-code cache that holds a query mix's working set (see
  ``CODEGEN_CACHE_ENTRIES``) and hits on a repeat whatever order its
  stages ran in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from osmdatapy_spark import memo


# ``spark.sql.codegen.cache.maxEntries``: Spark's default of 100 compiled
# classes (a Guava LRU cache in 4 segments of 25) is smaller than the
# working set of two suite queries run in turn (llm_curation_recipe and
# osm_point_in_polygon need 75 + 33 whole-stage/projection classes), so
# every repeat Janino-compiles the evicted classes again and the JIT
# compiles them once more.  The value is sized from the measured working
# set of the 32 headline bench queries (SCALE.md, "Plan builds and
# generated code").  It is a STATIC conf: it reaches only sessions built
# here, never a session handed in from outside (``tune_session``).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "osmdatapy-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the cache key is the generated source, and Spark names each
        # whole-stage class after its codegen stage id, which under AQE
        # can differ from one run of the same plan to the next: a repeat
        # of the suite_mix pair recompiled 4 classes whose source differed
        # only in that id
        .config("spark.sql.codegen.useIdInClassName", "false")
        # split-packing floor: the 4 MB default collapses every sub-4MB file
        # to ONE task, serializing the whole map stage on small inputs (the
        # local sf* tables are sub-MB; lineitem sf0.1 is 10 MB → 3 tasks).
        # 512 KB lets local[32] parallelize scans ~7×. At scale this knob is
        # inert for well-sized files (maxPartitionBytes governs); a
        # tiny-file lake would raise it back via the env override.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "524288"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (bench/test processes don't pay the jetty
        # startup); tools that read the REST status API (task-time
        # quantiles in tools/skew_check.py) opt in via the env override
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-created session,
    once per session (the memo drops the mark when the session stops).

    The driver hands us its own SparkSession; only touch conf keys that are
    runtime-mutable (timezone, AQE) and leave cluster sizing alone.
    """
    memo.get(spark, "tuned", None, lambda: _set_conf(spark))
    return spark


def _set_conf(spark: SparkSession) -> None:
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # the synthetic events.parquet stores TIMESTAMP(NANOS); Spark reads
        # them as LONG under this flag and tables.load_table converts to
        # microsecond timestamps
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — fine, defaults are sane
