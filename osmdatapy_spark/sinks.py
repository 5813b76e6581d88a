"""Corpus sinks: how curated training data leaves the engine.

The reference's only sink is an in-memory (Geo)DataFrame
(``_frame.py:8-57``); at 100 TB the sink IS the product — a partitioned,
size-bounded parquet layout that the training loader reads shard by
shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from osmdatapy_spark._pyworker import kernel

# in-progress part-file suffix for the non-destructive overwrite protocol
# (write temps → job succeeds → delete old parts → rename temps)
_TMP_SUFFIX = ".inprogress"


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a curated corpus as partitioned parquet.

    - ``partition_by`` (e.g. ``['lang']``) becomes directory partitions,
      so a per-language training run prunes at the LISTING level — no
      footer is even opened for other languages.
    - ``maxRecordsPerFile`` bounds shard size so the training loader gets
      uniform units regardless of upstream partition skew (the writer
      splits oversized tasks; it never merges, so pair it with AQE
      coalescing which is on in session.py).
    - parquet dictionary+RLE encoding replaces the reference's global
      string table (SURVEY §1.5) at rest.
    """
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read back a corpus written by ``write_corpus``; partition columns
    come back as regular columns (Spark partition discovery)."""
    return spark.read.parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a corpus as sharded JSON-Lines — the de-facto interchange
    format of public LLM training sets (The Pile, C4, RedPajama, Dolma
    all ship ``.jsonl.gz``/``.jsonl.zst``).  One JSON object per line,
    field order = the DataFrame's column order (deterministic), written
    executor-side by Spark's native JSON sink — fully distributed, no
    driver funnel.  Parquet (``write_corpus``) stays the at-rest format;
    JSONL is for interchange with tooling that doesn't read parquet.

    ``compression``: gzip (universal), or any codec the Spark JSON sink
    supports (bzip2/xz/lz4/snappy/zstd/none)."""
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read JSON-Lines with an EXPLICIT schema (a DDL string or
    StructType).  The schema is mandatory by design: Spark's JSON schema
    inference is a full extra pass over the data — on a 100 TB dump that
    silently doubles the read before the first real job — and inference
    can also widen/narrow types differently across dumps.  Compression
    is self-describing by file extension (.gz/.zst/...)."""
    return spark.read.schema(schema).json(path)


def write_corpus_with_manifest(
    df: DataFrame,
    path: str,
    text_col: str | None = "text",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
) -> DataFrame:
    """``write_corpus`` + a shard MANIFEST — the metadata a training
    loader actually consumes: per shard-file row count, whitespace-token
    count, and an order-independent content fingerprint (exact DECIMAL
    sum of per-row xxhash64 — commutative and overflow-free under ANSI
    mode, so it is stable under any partitioning/ordering of the same
    rows; carried as a string through the JSON manifest).

    The manifest is what makes a 100 TB corpus operable: deterministic
    epoch ordering (sort by file path), resumable loading (skip verified
    shards), and end-to-end integrity checks (re-derive a shard's
    fingerprint and compare) — all without re-reading the corpus.

    Written as line-delimited JSON under ``<path>/_manifest``; the
    leading underscore keeps it invisible to parquet listing, so
    ``read_corpus`` on the same path is unaffected.  Computed by ONE
    read-back pass grouped by ``input_file_name()`` — partition-local
    (a file never spans tasks' groups... each group key is one file), so
    the aggregation is a small exchange of one row per shard.

    Returns the manifest DataFrame (file, n_rows, n_tokens, fingerprint).
    """
    from pyspark.sql import functions as F

    write_corpus(df, path, partition_by=partition_by, max_records_per_file=max_records_per_file)
    spark = df.sparkSession
    back = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    aggs = [
        F.count("*").alias("n_rows"),
        F.sum(
            F.xxhash64(*[c for c in back.columns if c != "__file"]).cast("decimal(30,0)")
        )
        .cast("string")
        .alias("fingerprint"),
    ]
    if text_col and text_col in back.columns:
        aggs.insert(1, F.sum(F.size(F.split(F.trim(text_col), r"\s+"))).alias("n_tokens"))
    manifest = back.groupBy(F.col("__file").alias("file")).agg(*aggs)
    manifest.coalesce(1).write.mode("overwrite").json(path + "/_manifest")
    return spark.read.json(path + "/_manifest")


def write_clustered(
    df: DataFrame,
    path: str,
    cols: "list[str]",
    curve: str = "hilbert",
    order: int = 8,
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
    num_files: int = 0,
) -> None:
    """Space-filling-curve clustered parquet write — the OPTIMIZE ZORDER /
    hilbert maintenance job as a sink: rows range-partition and sort by
    the curve position of two key columns, so every output file's
    min/max footer statistics bound BOTH keys to a narrow envelope and a
    predicate on EITHER column prunes most files (the payoff
    rel_zorder_layout / rel_hilbert_layout report as queries, applied to
    storage).

    ``cols`` are two numeric columns; each is quantile-bucketed into
    2^``order`` cells (making the curve data-adaptive — raw value
    interleave degrades when one key is skewed), then interleaved with
    the chosen ``curve``: ``hilbert`` (tighter envelopes,
    operators/measures.hilbert_index) or ``zorder`` (Morton bits).

    Bucketing uses ``approxQuantile`` boundaries broadcast back as a
    literal ``width_bucket``-style expression — NOT a global ``ntile``
    window, which moves the whole dataset through one partition (the
    classic global-sort scale killer; layout keys don't need exact
    ranks).  Cost: one approximate-quantile pass + the range partition —
    the same shape OPTIMIZE pays.
    """
    from pyspark.sql import functions as F

    from osmdatapy_spark.operators.measures import hilbert_index

    if len(cols) != 2:
        raise ValueError("write_clustered interleaves exactly two key columns")
    n = 1 << order
    qs = [i / n for i in range(1, n)]
    bounds_a, bounds_b = (
        df.approxQuantile(c, qs, 0.001) for c in cols
    )

    def bucket(colname: str, bounds: "list[float]"):
        # index of the first boundary > value == the quantile cell; a
        # sorted-literal-array binary search via array + filter size
        arr = F.array(*[F.lit(float(x)) for x in bounds])
        return F.size(F.filter(arr, lambda x: x <= F.col(colname).cast("double")))

    a = bucket(cols[0], bounds_a)
    b = bucket(cols[1], bounds_b)
    if curve == "hilbert":
        key = hilbert_index(a, b, order)
    elif curve == "zorder":
        key = F.lit(0).cast("long")
        for j in range(order):
            key = (
                key
                + F.shiftleft(F.shiftright(a.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j + 1)
                + F.shiftleft(F.shiftright(b.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j)
            )
    else:
        raise ValueError(f"unknown curve {curve!r} (hilbert|zorder)")
    # explicit file count when given: AQE happily coalesces a small range
    # exchange to ONE partition — one file, no envelope win; at real scale
    # leave 0 and size via maxRecordsPerFile + shuffle partitions
    parts = (
        [F.col("__curve")] if num_files <= 0 else [num_files, F.col("__curve")]
    )
    (
        df.withColumn("__curve", key)
        .repartitionByRange(*parts)
        .sortWithinPartitions("__curve")
        .drop("__curve")
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def write_geoparquet(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry_wkb",
    crs: str = "EPSG:4326",
    geometry_types: "list[str] | None" = None,
    mode: str = "overwrite",
) -> None:
    """GeoParquet 1.0 sink: parquet files whose footer carries the spec's
    ``geo`` file-metadata key, so GeoPandas / GDAL / DuckDB-spatial /
    Sedona read the geometry column natively.

    The engine already serves ISO WKB (``Query(..., wkb=True)`` /
    ``operators/wkb.py``); this writes that binary column as a
    spec-compliant GeoParquet dataset.  Spark's parquet writer cannot
    attach custom file metadata, so each task writes its own footer via
    pyarrow inside ``mapInArrow`` — the rows arrive as Arrow
    RecordBatches straight off the JVM (no Python Row materialization;
    round 5's per-row ``Row.asDict`` → ``from_pylist`` loop was ~10× the
    memory and the CPU) — one file per partition, written directly (same
    discipline as ``engine.to_pbf``); at scale partition count is the
    file-size knob, exactly like any parquet sink.  A task buffers its
    partition's batches (zero-copy) before the single footer write — the
    spec's bbox lives in the footer, so O(partition) is inherent; size
    partitions like any parquet file target.

    Bounding boxes per file are computed from the rows actually written
    (the spec's optional ``bbox``), driven off lon/lat columns when
    present — file-level pruning for spatial readers.

    Modes: ``overwrite`` (replace the dataset) or ``error`` /
    ``errorifexists``.  ``append`` is rejected: part files are named by
    partition id, so appending a second write would silently mix or
    clobber datasets (the round-5 defect).
    """
    import json
    import os

    if mode not in ("overwrite", "error", "errorifexists"):
        raise ValueError(
            f"write_geoparquet mode {mode!r} unsupported: use 'overwrite' or "
            "'error' ('append' would mix datasets under fixed part-file names)"
        )
    if geometry_col not in df.columns:
        raise ValueError(f"missing geometry column {geometry_col!r}")
    existing = (
        [f for f in os.listdir(path) if f.endswith(".parquet")]
        if os.path.isdir(path)
        else []
    )
    if mode in ("error", "errorifexists") and existing:
        raise FileExistsError(f"{path} already holds a parquet dataset ({len(existing)} files)")
    os.makedirs(path, exist_ok=True)
    gtypes = geometry_types if geometry_types is not None else []
    cols = df.columns
    has_ll = "lon" in cols and "lat" in cols

    @kernel
    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        got = list(batches)  # Arrow buffers, zero-copy — NOT Python rows
        if not got:
            return iter(())
        pid = TaskContext.get().partitionId()
        tbl = pa.Table.from_batches(got)
        geo = {
            "version": "1.0.0",
            "primary_column": geometry_col,
            "columns": {
                geometry_col: {
                    "encoding": "WKB",
                    "geometry_types": gtypes,
                    "crs": crs,
                }
            },
        }
        if has_ll:
            lon_mm = pc.min_max(tbl.column("lon"))
            lat_mm = pc.min_max(tbl.column("lat"))
            if lon_mm["min"].is_valid and lat_mm["min"].is_valid:
                geo["columns"][geometry_col]["bbox"] = [
                    lon_mm["min"].as_py(), lat_mm["min"].as_py(),
                    lon_mm["max"].as_py(), lat_mm["max"].as_py(),
                ]
        meta = dict(tbl.schema.metadata or {})
        meta[b"geo"] = json.dumps(geo).encode("utf-8")
        tbl = tbl.replace_schema_metadata(meta)
        pq.write_table(tbl, os.path.join(path, f"part-{pid:05d}.parquet{_TMP_SUFFIX}"))
        return iter(())

    # overwrite is non-destructive until the job succeeds: parts land
    # under temp names (ignored by readers — they list *.parquet only),
    # old files are removed and temps renamed only AFTER the write job
    # completes.  A mid-job failure leaves the existing dataset intact
    # instead of destroyed-and-empty (the driver-side pre-delete).
    for f in os.listdir(path):
        if f.endswith(_TMP_SUFFIX):
            os.remove(os.path.join(path, f))  # stale temps of a failed run
    # mapInArrow with an empty yield is the zero-copy-out no-op action;
    # the 1-column dummy schema never materializes (no batches returned)
    df.mapInArrow(write_partition, "files long").count()
    if mode == "overwrite":
        for f in existing:
            os.remove(os.path.join(path, f))
    for f in sorted(os.listdir(path)):
        if f.endswith(_TMP_SUFFIX):
            os.replace(
                os.path.join(path, f), os.path.join(path, f[: -len(_TMP_SUFFIX)])
            )


def read_geoparquet_meta(path: str) -> dict:
    """Parse the ``geo`` footer metadata of a GeoParquet file/directory —
    the reader-side handshake (also what the sink's tests assert)."""
    import json
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
        path = files[0]
    md = pq.read_schema(path).metadata or {}
    return json.loads(md[b"geo"].decode("utf-8"))
