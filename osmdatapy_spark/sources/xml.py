"""OSM XML data source: ``.osm`` (planet-dump XML) and ``.osc``
(osmChange changefile) as DataFrames.

Beyond-reference scope (the reference reads PBF only,
``osmdatapy/osmdata.py:29-39``), but table stakes for a real OSM
pipeline: JOSM/iD exports, Overpass responses, and minutely/hourly diff
feeds are XML.  The unified row shape is exactly the PBF source's
(``sources/pbf.py::PBF_SCHEMA``) so every downstream operator — Query,
geometry, topology, bronze split — works unchanged; ``.osc`` adds one
``action`` column (``create | modify | delete``) that feeds the CDC
upsert/apply operators (suite ``osm_apply_changes``,
``streaming/stateful.py`` changefile face).

Scale positioning (deliberate): XML is NOT splittable (no framing), so
the partition unit is the FILE — a directory of diffs parallelizes per
file, and bulk data belongs in PBF or bronze parquet.  That mirrors the
osmium ecosystem, where XML is the interchange/diff format and PBF the
bulk format.  Parsing is ``iterparse`` streaming with element.clear()
— memory stays bounded however large one file is — and rows leave
Python as Arrow RecordBatches of ``_BATCH_ROWS`` elements, never
per-row pickling.
"""

from __future__ import annotations

import bz2
import gzip
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from osmdatapy_spark.sources._row import (
    arrow_types,
    expand_paths,
    load,
    parse_osmtypes,
    prune_schema,
)
from osmdatapy_spark.sources._watch import DirectoryWatcher
from osmdatapy_spark.sources.pbf import PBF_SCHEMA

_TYPE_CODE = {"node": 0, "way": 1, "relation": 2}
_ACTIONS = ("create", "modify", "delete")
_SUFFIXES = (".osm", ".osc", ".osm.gz", ".osc.gz", ".osm.bz2", ".osc.bz2")
_BATCH_ROWS = 20_000

OSC_SCHEMA = StructType(list(PBF_SCHEMA.fields) + [StructField("action", StringType(), False)])


def _open(path: str):
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    if path.endswith(".bz2"):
        return bz2.open(path, "rb")
    return open(path, "rb")


def _parse_ts(ts: str | None) -> int | None:
    """ISO-8601 ``2013-09-05T22:15:24Z`` → epoch SECONDS — the PBF
    decode's timestamp unit (``ts * date_granularity // 1000`` with
    date_granularity in millis, ``pbf_codec.py``), so PBF-base +
    ``.osc``-changefile pipelines compare and order timestamps in one
    unit.  Round 5 shipped millis here — a 1000× cross-source mismatch
    on the CDC path; ``test_xml_source.py`` now pins the parity."""
    if not ts:
        return None
    from datetime import datetime, timezone

    s = ts.replace("Z", "+00:00")
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


def _format_ts(ts: int | None) -> str | None:
    """Epoch seconds → ISO-8601 Zulu (inverse of ``_parse_ts``)."""
    if ts is None:
        return None
    from datetime import datetime, timezone

    return (
        datetime.fromtimestamp(int(ts), tz=timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ")
    )


def iter_osm_xml(
    path: str,
    osmtypes: "set[int] | None" = None,
    columns: "Sequence[str] | None" = None,
) -> Iterator[tuple[str, dict]]:
    """Stream (action, element-dict) pairs from an ``.osm``/``.osc`` file.

    For plain ``.osm`` the action is ``""``; for osmChange it is the
    enclosing ``create``/``modify``/``delete`` wrapper.  The dicts
    carry the unified-schema fields; ``<delete>`` entries are typically
    skeleton elements (id only) and come through with empty tags.

    ``osmtypes`` / ``columns`` are the shared pruning contract
    (``sources/_row.py``) on the XML side: non-requested element
    KINDS are skipped before any child walk or dict build, and dropped
    COLUMNS skip their parse work (the tag/nd/member child scans and the
    int/float attribute conversions — iterparse must still stream the
    raw XML, there is no framing to seek over, but the Python-side work
    per element prunes).  ``columns=None`` builds every field."""
    import xml.etree.ElementTree as ET

    need = None if columns is None else set(columns)

    def want(f: str) -> bool:
        return need is None or f in need

    w_tags, w_lon, w_lat = want("tags"), want("lon"), want("lat")
    w_refs, w_members = want("refs"), want("members")
    w_version, w_ts, w_cs = want("version"), want("timestamp"), want("changeset")

    action = ""
    root = None
    wrapper = None
    with _open(path) as f:
        # events on start gives the wrapper context; elements complete on end
        for event, el in ET.iterparse(f, events=("start", "end")):
            tag = el.tag
            if event == "start":
                if root is None:
                    root = el  # first start event is the document root
                if tag in _ACTIONS:
                    action = tag
                    wrapper = el
                continue
            if tag in _ACTIONS:
                action = ""
                wrapper = None
                el.clear()
                root.clear()
                continue
            if tag not in _TYPE_CODE:
                continue
            tc = _TYPE_CODE[tag]
            if osmtypes is not None and tc not in osmtypes:
                el.clear()
                (wrapper if wrapper is not None else root).clear()
                continue
            a = el.attrib
            row = {
                "osmid": int(a["id"]),
                "osmtype": tc,
                "tags": (
                    {t.attrib["k"]: t.attrib["v"] for t in el if t.tag == "tag"}
                    if w_tags
                    else {}
                ),
                "lon": float(a["lon"]) if w_lon and "lon" in a else None,
                "lat": float(a["lat"]) if w_lat and "lat" in a else None,
                "refs": [int(nd.attrib["ref"]) for nd in el if nd.tag == "nd"]
                if w_refs and tag == "way"
                else None,
                "members": [
                    (
                        int(m.attrib["ref"]),
                        _TYPE_CODE.get(m.attrib.get("type", "node"), 0),
                        m.attrib.get("role", ""),
                    )
                    for m in el
                    if m.tag == "member"
                ]
                if w_members and tag == "relation"
                else None,
                "version": int(a["version"]) if w_version and "version" in a else None,
                "timestamp": _parse_ts(a.get("timestamp")) if w_ts else None,
                "changeset": int(a["changeset"]) if w_cs and "changeset" in a else None,
            }
            yield action, row
            # el.clear() alone leaves an O(elements) list of empty element
            # shells in the enclosing container's child list (the round-5
            # leak) — clear the container too: the root for plain .osm,
            # the open create/modify/delete wrapper for .osc.  Both are
            # safe mid-parse: the expat TreeBuilder appends to its own
            # open-element stack, not via the parent's child list.
            el.clear()
            (wrapper if wrapper is not None else root).clear()


class _XmlPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class OsmXmlDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osmxml source requires a path")
        self.osmtypes = parse_osmtypes(options.get("osmtypes"))

    def partitions(self) -> Sequence[_XmlPartition]:
        return [_XmlPartition(f) for f in expand_paths(self.path, _SUFFIXES)]

    def read(self, partition: _XmlPartition) -> Iterator:
        import pyarrow as pa

        types = arrow_types(self.schema)

        def to_batch(rows: list[dict]) -> "pa.RecordBatch":
            # pyarrow takes tag dicts and (ref, type, role) member tuples
            # as the parser yields them, without reshaping
            return pa.RecordBatch.from_arrays(
                [pa.array([r[name] for r in rows], type=t) for name, t in types.items()],
                names=list(types),
            )

        buf: list[dict] = []
        # the schema IS the pruned column set: schema() already dropped
        # the unrequested columns, so the parse skips their work and
        # to_batch never builds their Arrow arrays
        for action, row in iter_osm_xml(
            partition.path, osmtypes=self.osmtypes, columns=self.schema.fieldNames()
        ):
            row["action"] = action
            buf.append(row)
            if len(buf) >= _BATCH_ROWS:
                yield to_batch(buf)
                buf = []
        if buf:
            yield to_batch(buf)


class OsmXmlSimpleStreamReader(DirectoryWatcher):
    """Streaming face of the osmxml source: watch a DIRECTORY of
    ``.osc``/``.osm`` files and emit each file's elements exactly once —
    the planet minutely/hourly-diff watcher (osmosis' replication
    pipeline) as a Structured Streaming source, feeding the CDC fold
    (``osm_osc_apply`` / ``stream_upsert_latest``) incrementally.

    Replication diffs are sequence-numbered (``000/123/456.osc.gz``), so
    lexicographic file order IS the replication order and the offset
    (``sources/_watch.py``) is a single scalar.  Files must be appended
    with ever-increasing names (the replication contract); a name ≤ the
    offset is never re-read.  The unit of progress is the FILE — the same
    non-splittable-XML positioning as the batch reader.  Replication
    diffs are small by contract, so ``maxFilesPerTrigger`` is needed only
    for a continuously-triggered watcher over a deep backlog."""

    source = "osmxml"
    suffixes = _SUFFIXES

    def _rows(self, files: "list[str]") -> "list[tuple]":
        osmtypes = parse_osmtypes(self.options.get("osmtypes"))
        fields = self.schema.fieldNames()
        data_fields = [f for f in fields if f != "action"]
        out = []
        for path in files:
            for action, row in iter_osm_xml(path, osmtypes=osmtypes, columns=data_fields):
                row["action"] = action
                out.append(tuple(row[f] for f in fields))
        return out


class OsmXmlDataSource(DataSource):
    """``spark.read.format("osmxml")`` — OSM XML / osmChange as a DataFrame."""

    suffixes = _SUFFIXES

    @classmethod
    def name(cls) -> str:
        return "osmxml"

    def schema(self) -> StructType:
        osc = self.options.get("osc", "false").lower() == "true"
        return prune_schema(OSC_SCHEMA if osc else PBF_SCHEMA, self.options.get("columns"), "osmxml")

    def reader(self, schema: StructType) -> OsmXmlDataSourceReader:
        return OsmXmlDataSourceReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> OsmXmlSimpleStreamReader:
        return OsmXmlSimpleStreamReader(schema, dict(self.options))


def read_osm_xml(
    spark: SparkSession,
    path: str,
    osc: bool = False,
    osmtypes: "set[int] | None" = None,
    columns: "list[str] | None" = None,
) -> DataFrame:
    """Open ``.osm`` XML (or ``.osc`` changefiles with ``osc=True``, adding
    the ``action`` column) as a DataFrame in the unified element schema.

    ``osmtypes`` restricts parsed element kinds at the source and
    ``columns`` restricts built fields — the same pruning contract as
    ``read_pbf`` (a ``.select()`` above a Python DataSource scan cannot
    push down, so the options are where pruning becomes real)."""
    return load(spark, OsmXmlDataSource, path, osc=osc, osmtypes=osmtypes, columns=columns)


def read_osm_xml_stream(
    spark: SparkSession,
    path: str,
    osc: bool = True,
    osmtypes: "set[int] | None" = None,
    columns: "list[str] | None" = None,
    max_files_per_trigger: int = 0,
) -> DataFrame:
    """``spark.readStream`` over a directory of ``.osc`` changefiles (or
    ``.osm`` snapshots with ``osc=False``): each file that appears under
    ``path`` with a lexicographically LATER name is emitted exactly once
    — the replication-diff watcher as a streaming DataFrame, with the
    same pruning options as the batch reader.  Downstream, the CDC fold
    (latest version per osmid) runs per micro-batch via foreachBatch or
    as a watermarked stateful aggregation.  ``max_files_per_trigger``
    rations arrivals for a continuously-triggered watcher over a deep
    diff backlog (0 = unlimited, the default — an availableNow run plans
    exactly one read per run; same contract as ``read_pbf_stream``)."""
    return load(
        spark,
        OsmXmlDataSource,
        path,
        stream=True,
        maxFilesPerTrigger=max_files_per_trigger,
        osc=osc,
        osmtypes=osmtypes,
        columns=columns,
    )


def _element_xml(r: dict, names: dict) -> str:
    """One unified-schema element dict as its ``<node/>``/``<way/>``/
    ``<relation/>`` XML fragment (shared by the ``.osm`` and ``.osc``
    writers so both serialize elements identically)."""
    from xml.sax.saxutils import quoteattr

    kind = names[r["osmtype"]]
    attrs = [f'id="{r["osmid"]}"']
    lon, lat = r.get("lon"), r.get("lat")
    if (lon is None) != (lat is None):
        raise ValueError(
            f"element {kind}/{r['osmid']}: half-set coordinates "
            f"(lon={lon!r}, lat={lat!r}) — both or neither must be present"
        )
    if lon is not None:
        attrs.append(f'lat="{lat:.7f}" lon="{lon:.7f}"')
    if r.get("version") is not None:
        attrs.append(f'version="{r["version"]}"')
    if r.get("timestamp") is not None:
        attrs.append(f'timestamp="{_format_ts(r["timestamp"])}"')
    if r.get("changeset") is not None:
        attrs.append(f'changeset="{r["changeset"]}"')
    body = []
    for k, v in (r.get("tags") or {}).items():
        body.append(f"  <tag k={quoteattr(k)} v={quoteattr(v)}/>")
    for ref in r.get("refs") or []:
        body.append(f'  <nd ref="{ref}"/>')
    for m in r.get("members") or []:
        ref, t, role = m
        body.append(f'  <member type="{names[t]}" ref="{ref}" role={quoteattr(role or "")}/>')
    head = f"<{kind} {' '.join(attrs)}"
    if body:
        return f"{head}>\n" + "\n".join(body) + f"\n</{kind}>\n"
    return f"{head}/>\n"


def write_osm_xml(rows: Iterator, out) -> None:
    """Serialize unified-schema element dict-rows to ``.osm`` XML (test/
    interchange helper — the round-trip counterpart of ``read_osm_xml``;
    the bulk sink remains ``engine.to_pbf``)."""
    out.write("<?xml version='1.0' encoding='UTF-8'?>\n")
    out.write("<osm version=\"0.6\" generator=\"osmdatapy_spark\">\n")
    names = {v: k for k, v in _TYPE_CODE.items()}
    for r in rows:
        out.write(_element_xml(r, names))
    out.write("</osm>\n")


def write_osm_osc(rows: Iterator, out) -> None:
    """Serialize (action, element-dict) pairs to an osmChange ``.osc``
    changefile — the wire format of planet minutely/hourly diffs and the
    round-trip counterpart of ``read_osm_xml(..., osc=True)``.  Action
    must be ``create``/``modify``/``delete``; consecutive same-action
    rows share one wrapper block (the layout osmosis/osmium emit).
    Elements serialize via the same fragment writer as ``.osm``, so the
    two formats cannot drift."""
    out.write("<?xml version='1.0' encoding='UTF-8'?>\n")
    out.write("<osmChange version=\"0.6\" generator=\"osmdatapy_spark\">\n")
    names = {v: k for k, v in _TYPE_CODE.items()}
    open_action = None
    for action, r in rows:
        if action not in _ACTIONS:
            raise ValueError(f"osc action must be one of {_ACTIONS}, got {action!r}")
        if action != open_action:
            if open_action is not None:
                out.write(f"</{open_action}>\n")
            out.write(f"<{action}>\n")
            open_action = action
        out.write(_element_xml(r, names))
    if open_action is not None:
        out.write(f"</{open_action}>\n")
    out.write("</osmChange>\n")
