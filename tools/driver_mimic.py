"""Mimic the DRIVER's correctness gate exactly: a PLAIN SparkSession
(none of session.py's tuned configs — the driver builds its own), the
``queries()`` / ``oracle_sql()`` surface from ``__spark_entry__.py`` (not
the internal registry), the first-N prefix sample in dict order, and the
same canon/dtype-kind/value comparison as ``tools/check_oracle.py``.

This is the pre-flight for CORRECTNESS_r{N}: anything that depends on a
tuned runtime conf (e.g. the nano-timestamp parquet flag), on registry
order, or on an oracle-only DuckDB feature shows up here first.

Usage: python tools/driver_mimic.py [n_sample] [sf_dir]
"""

from __future__ import annotations

import importlib.util
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from check_oracle import compare  # noqa: E402
from osmdatapy_spark.tables import TABLE_NAMES  # noqa: E402


def main() -> int:
    n_sample = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # NO configs
    spark.sparkContext.setLogLevel("ERROR")

    # the driver's smoke gate first
    n = len(mod.entry(spark).collect())
    assert n > 0, "entry() returned no rows"
    print(f"entry(): {n} rows")

    q = mod.queries()
    o = mod.oracle_sql()
    names = list(q)[:n_sample]

    con = duckdb.connect()
    # same UTC pin as check_oracle.py — TZ-sensitive DuckDB conversions
    # must read identically here and on the (UTC) driver
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = q[name](spark, sf).toPandas()
            spark.catalog.clearCache()
            odf = con.execute(o[name]).fetchdf()
            compare(sdf, odf)
            print(f"PASS {name} [{time.time() - t0:.1f}s]")
            n_pass += 1
        except Exception as e:  # noqa: BLE001 — report every failure mode
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
