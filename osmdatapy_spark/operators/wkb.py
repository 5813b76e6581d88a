"""WKB geometry output surface (G1-G3 binary variants).

The reference returns shapely geometry objects in a GeoDataFrame with CRS
EPSG:4326 (reference ``_frame.py:54-56``, ``_geometry.py:22``); the Spark
surface serializes geometries as little-endian ISO WKB in ``BinaryType``
columns — directly readable by shapely.wkb / GeoPandas / Sedona / DuckDB
spatial — with the CRS carried as column metadata (``CRS_METADATA``).

Spark has no JVM-side double→IEEE-754-bits function, so the one encoder,
``parts_wkb``, is an Arrow-batched UDF over numpy byte layout — the ONE
place a binary surface genuinely needs Python.  It is a narrow
projection: no shuffle, batch-local, and only runs on the final output
columns.  It reads the same coordinate parts the WKT is rendered from
(``operators/geometry.parts_wkt``), so WKB carries the exact doubles.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, lit

from osmdatapy_spark._pyworker import kernel
from osmdatapy_spark.operators.geometry import GEOM_AREA, GEOM_LINESTRING, GEOM_POINT

CRS_METADATA = {"crs": "EPSG:4326", "geometry_encoding": "WKB (ISO, little-endian)"}

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6


# -- byte-layout encoders (numpy, little-endian) ----------------------------


def _hdr(gtype: int) -> bytes:
    return b"\x01" + struct.pack("<I", gtype)


def _enc_linestring(arr: np.ndarray) -> bytes:
    return _hdr(WKB_LINESTRING) + struct.pack("<I", len(arr)) + arr.astype("<f8").tobytes()


def _enc_polygon(rings: list[np.ndarray]) -> bytes:
    body = b"".join(struct.pack("<I", len(r)) + r.astype("<f8").tobytes() for r in rings)
    return _hdr(WKB_POLYGON) + struct.pack("<I", len(rings)) + body


def _enc_multi(gtype: int, parts: list[bytes]) -> bytes:
    return _hdr(gtype) + struct.pack("<I", len(parts)) + b"".join(parts)


# The UDFs are created at call time (arrow_udf parses its DDL
# return type against the active session, so module import must not
# require one).


def parts_wkb(kind: Column, parts: Column) -> Column:
    """ISO WKB of a geometry given as coordinate parts, all five types.

    ``parts`` is ARRAY<ARRAY<ARRAY<STRUCT<lon,lat>>>>: parts hold point
    sequences, point sequences hold points.  ``kind`` (``geometry.GEOM_*``)
    picks the layout, and the part count picks single or MULTI:

    - ``GEOM_POINT``: POINT from the one point;
    - ``GEOM_LINESTRING``: each part's one sequence is a chain — LINESTRING
      for one part, MULTILINESTRING for more;
    - ``GEOM_AREA``: each part's sequences are a polygon's rings, outer
      first — POLYGON for one part, MULTIPOLYGON for more.

    Null parts, or a null coordinate anywhere in them (a node the extract
    does not hold), encode null.  The parts arrive as Arrow list offsets:
    pandas cannot take ragged nested arrays (rings of different lengths)
    through its ndarray conversion."""

    @kernel
    def batch(kinds: pa.Array, shapes: pa.Array) -> pa.Array:
        seqs = shapes.values
        pts = seqs.values
        lon, lat = (pc.struct_field(pts.values, f) for f in ("lon", "lat"))
        xy = np.column_stack(
            [lon.to_numpy(zero_copy_only=False), lat.to_numpy(zero_copy_only=False)]
        ).astype("<f8")
        # running count of null coordinates: a range holds one iff the
        # count grows across it
        null = pc.or_(lon.is_null(), lat.is_null()).to_numpy(zero_copy_only=False)
        missing = np.concatenate(([0], np.cumsum(null)))
        # an empty list array may come without an offsets buffer
        part_off, seq_off, pt_off = (
            a.offsets.to_numpy() if len(a) else np.zeros(1, np.int32) for a in (shapes, seqs, pts)
        )

        def seq(k: int) -> np.ndarray:
            return xy[pt_off[k]:pt_off[k + 1]]

        out = []
        for i, (k, valid) in enumerate(zip(kinds.to_pylist(), shapes.is_valid().to_pylist())):
            if not valid or k is None:
                out.append(None)
                continue
            p0, p1 = part_off[i], part_off[i + 1]
            first, last = pt_off[seq_off[p0]], pt_off[seq_off[p1]]
            if missing[last] > missing[first]:
                out.append(None)
            elif k == GEOM_POINT:
                out.append(_hdr(WKB_POINT) + xy[first].tobytes())
            elif k == GEOM_LINESTRING:
                chains = [_enc_linestring(seq(seq_off[j])) for j in range(p0, p1)]
                out.append(chains[0] if len(chains) == 1 else _enc_multi(WKB_MULTILINESTRING, chains))
            elif k == GEOM_AREA:
                polys = [
                    _enc_polygon([seq(r) for r in range(seq_off[j], seq_off[j + 1])])
                    for j in range(p0, p1)
                ]
                out.append(polys[0] if len(polys) == 1 else _enc_multi(WKB_MULTIPOLYGON, polys))
            else:
                raise ValueError(f"unsupported geometry kind {k}")
        return pa.array(out, pa.binary())

    return arrow_udf(batch, "binary")(kind, parts)


def point_wkb(lon: Column, lat: Column) -> Column:
    """POINT WKB from lon/lat doubles."""
    pt = F.struct(lon.alias("lon"), lat.alias("lat"))
    return parts_wkb(lit(GEOM_POINT), F.array(F.array(F.array(pt))))


def linestring_wkb(coords: Column) -> Column:
    """LINESTRING WKB from an ordered ARRAY<STRUCT<lon,lat>>."""
    return parts_wkb(lit(GEOM_LINESTRING), F.when(coords.isNotNull(), F.array(F.array(coords))))


def polygon_wkb(rings: Column) -> Column:
    """POLYGON WKB from ARRAY<ARRAY<STRUCT<lon,lat>>> (outer ring first)."""
    return parts_wkb(lit(GEOM_AREA), F.when(rings.isNotNull(), F.array(rings)))


# -- decoder (round-trip verification surface) ------------------------------


def _walk(buf: bytes, off: int) -> tuple[int, int, float, float, int]:
    """One geometry at ``off`` → (gtype, n_points, x1, y1, next_off)."""
    gtype = struct.unpack_from("<I", buf, off + 1)[0]
    off += 5
    if gtype == WKB_POINT:
        x, y = struct.unpack_from("<2d", buf, off)
        return gtype, 1, x, y, off + 16
    if gtype == WKB_LINESTRING:
        (n,) = struct.unpack_from("<I", buf, off)
        x, y = struct.unpack_from("<2d", buf, off + 4)
        return gtype, n, x, y, off + 4 + 16 * n
    if gtype == WKB_POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        total, x1, y1 = 0, float("nan"), float("nan")
        for r in range(nrings):
            (n,) = struct.unpack_from("<I", buf, off)
            if r == 0:
                x1, y1 = struct.unpack_from("<2d", buf, off + 4)
            total += n
            off += 4 + 16 * n
        return gtype, total, x1, y1, off
    if gtype in (WKB_MULTILINESTRING, WKB_MULTIPOLYGON):
        (nparts,) = struct.unpack_from("<I", buf, off)
        off += 4
        total, x1, y1 = 0, float("nan"), float("nan")
        for p in range(nparts):
            _, n, px, py, off = _walk(buf, off)
            if p == 0:
                x1, y1 = px, py
            total += n
        return gtype, total, x1, y1, off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def wkb_info(wkb: Column) -> Column:
    """Decode WKB structure: geometry type code, total point count, first
    coordinate — the round-trip check that pins the byte layout.  An Arrow
    UDF like ``parts_wkb``, so an encode-then-decode projection is one
    Python evaluation."""

    @kernel
    def batch(bufs: pa.Array) -> pa.Array:
        rows = [(None,) * 4 if b is None else _walk(b, 0)[:4] for b in bufs.to_pylist()]
        cols = list(zip(*rows)) or [()] * 4
        types = (pa.int32(), pa.int32(), pa.float64(), pa.float64())
        return pa.StructArray.from_arrays(
            [pa.array(c, t) for c, t in zip(cols, types)], names=["gtype", "n_points", "x1", "y1"]
        )

    return arrow_udf(batch, "gtype int, n_points int, x1 double, y1 double")(wkb)
