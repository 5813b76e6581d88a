"""The unified element row shared by the ``osmpbf`` and ``osmxml`` sources.

Both sources yield SURVEY.md §1.5's element model: one table for all
three kinds, tags as a map, refs and members as arrays
(``sources/pbf.py::PBF_SCHEMA``).  Every decision about that row that the
two sources share lives here, once:

- ``prune_schema``: the ``columns`` read option;
- ``parse_osmtypes``: the ``osmtypes`` read option;
- ``arrow_types``: the row's Arrow form, derived from the Spark schema;
- ``expand_paths``: the files a batch read of a path covers;
- ``load``: how the ``read_*`` helpers pass their keyword arguments on
  as read options, and the one relation handle per session and read.

Both options are *relation-defining*: Spark's Python DataSource API
(4.1) pushes down neither column pruning nor, safely, filters (scan
reuse merges two scans of one relation even when their pushed filters
differ), so pruning becomes real only as an option that gives each
pruned read its own relation.
"""

from __future__ import annotations

import glob
import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from osmdatapy_spark import memo

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


def prune_schema(base: StructType, columns: str | None, source: str) -> StructType:
    """The ``columns`` option: ``base`` narrowed to the named fields, in
    schema order.  A ``.select()`` above the scan would still decode and
    ship every field; the narrowed schema lets the reader skip the dropped
    fields' decode and never build their Arrow arrays (reference
    field-decode pruning, ``primitives.py:23-29``)."""
    wanted = [c.strip() for c in (columns or "").split(",") if c.strip()]
    if not wanted:
        return base
    unknown = [c for c in wanted if c not in base.fieldNames()]
    if unknown:
        raise ValueError(f"unknown {source} columns: {unknown}")
    return StructType([f for f in base.fields if f.name in wanted])


def parse_osmtypes(raw: str | None) -> set[int] | None:
    """The ``osmtypes`` option (``"0"``, ``"1,2"``): the element kinds a
    relation decodes, or None for all three."""
    kinds = {int(t) for t in (raw or "").split(",") if t.strip()}
    return kinds or None


def arrow_types(schema: StructType) -> "dict[str, pa.DataType]":
    """Arrow type of each column of a (possibly pruned) row schema."""
    from pyspark.sql.pandas.types import to_arrow_type

    return {f.name: to_arrow_type(f.dataType) for f in schema.fields}


def expand_paths(path: str, suffixes: tuple[str, ...]) -> list[str]:
    """The files a batch read of ``path`` covers: a directory reads every
    file inside ending in one of ``suffixes`` (sorted, for a deterministic
    partition order), a glob pattern expands (sorted), a plain path stays
    itself.  Hidden dotfiles in a directory are skipped: macOS AppleDouble
    ``._x.osm.pbf`` sidecars carry a data suffix but hold resource-fork
    bytes (the same rule as ``_watch.list_watched_files``).  A directory
    or glob that names no file raises."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(suffixes) and not f.startswith(".")
        )
        if not files:
            raise ValueError(f"no {'/'.join(suffixes)} files in directory {path}")
        return files
    if any(c in path for c in "*?["):
        files = sorted(glob.glob(path))
        if not files:
            raise ValueError(f"glob {path!r} matched no files")
        return files
    return [path]


def _fingerprint(path: str, suffixes: tuple[str, ...]) -> tuple:
    """``(file, size, mtime_ns, inode)`` of every file a read of ``path``
    covers: what a relation handle's frozen blob plan depends on."""
    stats = ((f, os.stat(f)) for f in expand_paths(path, suffixes))
    return tuple((f, st.st_size, st.st_mtime_ns, st.st_ino) for f, st in stats)


def _register(spark: SparkSession, source: type[DataSource]) -> None:
    """Register ``source`` in ``spark``.  Spark 4.1 checks the name against
    the JVM's *active* session, not the registering one, so a
    ``newSession()`` of a session that already registered the source
    would fail with DATA_SOURCE_ALREADY_EXISTS; registering with
    ``spark`` made active, then restoring the previous one, avoids that."""
    jclass = getattr(spark._jvm, "org.apache.spark.sql.classic.SparkSession")
    prev = jclass.getActiveSession()
    jclass.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(source)
    finally:
        if prev.isDefined():
            jclass.setActiveSession(prev.get())
        else:
            jclass.clearActiveSession()


def load(
    spark: SparkSession, source: type[DataSource], path: str, stream: bool = False, **options
) -> DataFrame:
    """Open ``path`` through ``source`` (batch, or ``spark.readStream`` with
    ``stream=True``), passing ``options`` on as read options.

    ``source`` is registered once per session.  An option that is None,
    False, 0 or empty is left unset; True reads ``"true"``; a set joins
    sorted with commas and a list in its own order.

    A batch read returns the session's one relation handle for
    ``(source, path, options)``: building one costs the JVM two Python
    planner round trips (``schema()``, then the blob plan of
    ``partitions()``).  The handle's plan is frozen, so the entry carries
    the fingerprint of the files the read covers and a rewritten, added or
    removed file replaces it.  A path that cannot be fingerprinted (it does
    not exist) is opened unmemoized, so the read raises its own error."""
    name = source.name()
    memo.get(spark, "datasource", name, lambda: _register(spark, source))
    opts: dict[str, str] = {}
    for key, value in options.items():
        if isinstance(value, bool):
            value = "true" if value else None
        elif isinstance(value, (set, frozenset)):
            value = ",".join(sorted(str(v) for v in value))
        elif isinstance(value, (list, tuple)):
            value = ",".join(str(v) for v in value)
        if value:
            opts[key] = str(value)

    def open_relation() -> DataFrame:
        return (spark.readStream if stream else spark.read).format(name).options(**opts).load(path)

    if stream:
        return open_relation()
    try:
        stamp = _fingerprint(path, source.suffixes)
    except (OSError, ValueError):
        return open_relation()
    key = (name, path, tuple(sorted(opts.items())))
    held = memo.get(spark, "relation", key, lambda: (stamp, open_relation()))
    if held[0] != stamp:
        held = (stamp, open_relation())
        memo.put(spark, "relation", key, held)
    return held[1]
