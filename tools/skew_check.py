"""Skew-stress harness (round-10 verdict ask #7): every bench query runs
on uniform synthetic data, so the suite's skew-resilience claims —
map-side partial aggregation (llm_paragraph_dedup), WindowGroupLimit
top-k (llm_domain_cap), explicit two-phase salting (rel_skew_salted_agg)
— are exercised here on a DELIBERATELY skewed fixture next to a uniform
control of identical row count and identical total bytes-of-work.

Fixtures (deterministic, hash-derived, cached in /tmp):
  documents  600k docs.  uniform: 1000 equal domains, every paragraph
             globally unique.  skewed: ONE domain holds 50% of all docs
             (Zipf head) AND those same docs share one identical
             boilerplate paragraph (a 300k-copy hot fingerprint).
  lineitem   4M rows.  uniform: 3 equal return flags.  skewed: one flag
             holds 96% of rows.

For each (query, fixture) run: wall-clock (noop sink) plus the
heaviest-by-executor-run-time stage's max/median task run time
(``task_skew``), read from the run's job group in the uncompressed Spark
event log after the session stops — the straggler evidence a wall
number alone hides.  A skew-safe plan shows skewed/uniform wall ≈ 1 and
task skew ≈ 1; a hot-key pathology shows up as one task owning the
stage.

Usage: python tools/skew_check.py   → one JSON line + a markdown table
(paste into SCALE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession, functions as F  # noqa: E402
from pyspark.sql.functions import col, lit  # noqa: E402

from osmdatapy_spark.suite import QUERY_REGISTRY  # noqa: E402
from perfbench.trace import read_event_log  # noqa: E402

N_DOCS = 600_000
N_LINES = 4_000_000


def _fixture_dir(kind: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"osmdatapy_skew_{kind}_v1")


def _token_blob(prefix_expr, n_tokens: int, salt: int):
    """n_tokens whitespace-separated tokens, hash-derived from a per-row
    prefix expression — unique-ish vocabulary, no rand() (reruns and both
    fixtures are bit-identical)."""
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(lit(1), lit(n_tokens)),
            lambda j: F.concat(
                lit("w"),
                F.pmod(F.xxhash64(prefix_expr, j, lit(salt)), lit(9_999_991)).cast("string"),
            ),
        ),
    )


def build_documents(spark: SparkSession, skewed: bool) -> str:
    d = _fixture_dir("docs_skew" if skewed else "docs_uniform")
    marker = os.path.join(d, "_done")
    if os.path.exists(marker):
        return d
    ids = spark.range(1, N_DOCS + 1).select(col("id").alias("doc_id"))
    if skewed:
        source = F.when(F.pmod(col("doc_id"), 2) == 0, lit("bigdomain")).otherwise(
            F.concat(lit("dom"), F.pmod(col("doc_id"), 999).cast("string"))
        )
        # every even doc opens with the SAME 20-token paragraph — the
        # 300k-copy hot fingerprint key paragraph_dedup must collapse
        # map-side; odd docs get a unique first paragraph
        para1 = F.when(
            F.pmod(col("doc_id"), 2) == 0, _token_blob(lit(0), 20, 7)
        ).otherwise(_token_blob(col("doc_id"), 20, 7))
    else:
        source = F.concat(lit("dom"), F.pmod(col("doc_id"), 1000).cast("string"))
        para1 = _token_blob(col("doc_id"), 20, 7)
    text = F.concat_ws(" ", para1, _token_blob(col("doc_id"), 40, 13))
    docs = ids.select(
        "doc_id", text.alias("text"), lit("en").alias("lang"), source.alias("source")
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    open(marker, "w").close()
    return d


def build_lineitem(spark: SparkSession, skewed: bool) -> str:
    d = _fixture_dir("li_skew" if skewed else "li_uniform")
    marker = os.path.join(d, "_done")
    if os.path.exists(marker):
        return d
    ids = spark.range(1, N_LINES + 1)
    if skewed:
        flag = (
            F.when(F.pmod(col("id"), 50) == 0, lit("A"))
            .when(F.pmod(col("id"), 50) == 1, lit("R"))
            .otherwise(lit("N"))
        )
    else:
        flag = F.element_at(
            F.array(lit("A"), lit("N"), lit("R")), (F.pmod(col("id"), 3) + 1).cast("int")
        )
    li = ids.select(
        col("id").alias("l_orderkey"),
        F.pmod(col("id"), 7).cast("int").alias("l_linenumber"),
        F.pmod(col("id") * 31, 100_000).alias("l_partkey"),
        flag.alias("l_returnflag"),
        (F.pmod(col("id"), 10_000) * 0.01 + 1.0).alias("l_extendedprice"),
    )
    li.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    open(marker, "w").close()
    return d


def run_timed(spark: SparkSession, name: str, sf_dir: str, group: str) -> float:
    """Wall-clock of one query run to the noop sink, its jobs tagged with
    ``group`` so the event log attributes their stages to this run."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.time()
    QUERY_REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    spark.catalog.clearCache()
    return round(wall, 2)


def main() -> None:
    # the event log must be configured before the JVM starts; the Spark UI
    # stays off (get_spark's constant)
    events = tempfile.mkdtemp(prefix="osmdatapy_skew_events_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{events} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    from osmdatapy_spark.session import get_spark

    spark = get_spark("osmdatapy-skew-check")
    spark.sparkContext.setLogLevel("ERROR")

    fixtures = {
        "documents": (build_documents(spark, False), build_documents(spark, True)),
        "lineitem": (build_lineitem(spark, False), build_lineitem(spark, True)),
    }
    plan = [
        ("rel_skew_salted_agg", "lineitem"),
        ("llm_domain_cap", "documents"),
        ("llm_paragraph_dedup", "documents"),
    ]
    # one warm pass absorbs JIT so uniform-vs-skewed is engine, not JDK
    for name, fam in plan:
        run_timed(spark, name, fixtures[fam][0], f"warm.{name}")

    walls = {}
    for name, fam in plan:
        for kind, sf_dir in zip(("uniform", "skewed"), fixtures[fam]):
            walls[name, kind] = run_timed(spark, name, sf_dir, f"{name}.{kind}")
    spark.stop()
    groups = read_event_log(events)
    shutil.rmtree(events, ignore_errors=True)

    out: dict = {}
    rows = []
    for name, _ in plan:
        runs = {
            kind: {
                "wall_sec": walls[name, kind],
                "task_skew": round(groups.get(f"{name}.{kind}", {}).get("task_skew", 0.0), 1),
            }
            for kind in ("uniform", "skewed")
        }
        uni, skw = runs["uniform"], runs["skewed"]
        ratio = round(skw["wall_sec"] / max(uni["wall_sec"], 1e-9), 2)
        out[name] = {**runs, "wall_ratio": ratio}
        rows.append(
            f"| {name} | {uni['wall_sec']}s | {skw['wall_sec']}s | {ratio}x "
            f"| {uni['task_skew']}x | {skw['task_skew']}x |"
        )
    print(json.dumps(out))
    print()
    print("| query | uniform wall | skewed wall | wall ratio | uniform task skew | skewed task skew |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(r)


if __name__ == "__main__":
    main()
