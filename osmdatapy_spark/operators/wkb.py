"""WKB geometry output surface (G1-G3 binary variants).

The reference returns shapely geometry objects in a GeoDataFrame with CRS
EPSG:4326 (reference ``_frame.py:54-56``, ``_geometry.py:22``); the Spark
surface serializes geometries as little-endian ISO WKB in ``BinaryType``
columns — directly readable by shapely.wkb / GeoPandas / Sedona / DuckDB
spatial — with the CRS carried as column metadata (``CRS_METADATA``).

Spark has no JVM-side double→IEEE-754-bits function, so the constructors
are Arrow-batched pandas UDFs over numpy byte layout — the ONE place a
binary surface genuinely needs Python.  They are narrow projections: no
shuffle, batch-local, and only run on the final output columns.

Precision note: ``wkt_to_wkb`` re-parses the engine's canonical
7-decimal WKT.  OSM coordinates are 1e-7 fixed-point in the PBF model
(nanodegrees, reference ``dense.py:44-47``), so 7 decimals is exactly
the source resolution — the text round-trip is lossless for OSM data.
The ``*_wkb`` constructors encode raw doubles and are exact for any
input.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import col, pandas_udf

from osmdatapy_spark._pyworker import kernel

CRS_METADATA = {"crs": "EPSG:4326", "geometry_encoding": "WKB (ISO, little-endian)"}

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6


# -- byte-layout encoders (numpy, little-endian) ----------------------------


def _hdr(gtype: int) -> bytes:
    return b"\x01" + struct.pack("<I", gtype)


def _enc_point(x: float, y: float) -> bytes:
    return _hdr(WKB_POINT) + struct.pack("<2d", x, y)


def _enc_linestring(arr: np.ndarray) -> bytes:
    return _hdr(WKB_LINESTRING) + struct.pack("<I", len(arr)) + arr.astype("<f8").tobytes()


def _enc_polygon(rings: list[np.ndarray]) -> bytes:
    body = b"".join(struct.pack("<I", len(r)) + r.astype("<f8").tobytes() for r in rings)
    return _hdr(WKB_POLYGON) + struct.pack("<I", len(rings)) + body


def _enc_multi(gtype: int, parts: list[bytes]) -> bytes:
    return _hdr(gtype) + struct.pack("<I", len(parts)) + b"".join(parts)


# -- WKT (the engine's canonical text dialect) → WKB ------------------------


def _coord_array(txt: str) -> np.ndarray:
    """``"1.5 2.5, 3.0 4.0"`` → (n, 2) float64 array."""
    pts = [p.split() for p in txt.split(",")]
    return np.asarray([[float(a), float(b)] for a, b in pts], "<f8")


def _groups(body: str) -> list[str]:
    """Top-level parenthesized groups of ``body``: ``"(a),(b (c))"`` →
    ``["a", "b (c)"]``."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append(body[start:i])
    return out

def _encode_wkt(wkt: str) -> bytes:
    head, _, body = wkt.partition(" (")
    body = body[:-1]  # strip closing paren
    if head == "POINT":
        x, y = body.split()
        return _enc_point(float(x), float(y))
    if head == "LINESTRING":
        return _enc_linestring(_coord_array(body))
    if head == "POLYGON":
        return _enc_polygon([_coord_array(g) for g in _groups(body)])
    if head == "MULTILINESTRING":
        return _enc_multi(
            WKB_MULTILINESTRING, [_enc_linestring(_coord_array(g)) for g in _groups(body)]
        )
    if head == "MULTIPOLYGON":
        polys = [
            _enc_polygon([_coord_array(r) for r in _groups(g)]) for g in _groups(body)
        ]
        return _enc_multi(WKB_MULTIPOLYGON, polys)
    raise ValueError(f"unsupported WKT geometry: {head!r}")


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and pd.isna(v))


# The pandas UDFs are created at call time (pandas_udf parses its DDL
# return type against the active session, so module import must not
# require one).


def wkt_to_wkb(wkt: Column) -> Column:
    """The engine's WKT dialect → ISO WKB, all five geometry types."""

    @kernel
    def batch(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if _is_null(v) else _encode_wkt(v))

    return pandas_udf(batch, "binary")(wkt)


# -- direct constructors (exact doubles, no text round-trip) ----------------


def point_wkb(lon: Column, lat: Column) -> Column:
    """POINT WKB from lon/lat doubles — fully vectorized byte layout."""

    @kernel
    def batch(x: pd.Series, y: pd.Series) -> pd.Series:
        n = len(x)
        buf = np.zeros((n, 21), np.uint8)
        buf[:, 0] = 1
        buf[:, 1] = WKB_POINT
        buf[:, 5:13] = x.to_numpy("<f8", na_value=0.0).view(np.uint8).reshape(n, 8)
        buf[:, 13:21] = y.to_numpy("<f8", na_value=0.0).view(np.uint8).reshape(n, 8)
        out = pd.Series([r.tobytes() for r in buf], dtype=object)
        null = (x.isna() | y.isna()).to_numpy()
        if null.any():
            out[null] = None
        return out

    return pandas_udf(batch, "binary")(lon, lat)


def _pts(points) -> np.ndarray:
    return np.asarray([[p["lon"], p["lat"]] for p in points], "<f8")


def linestring_wkb(coords: Column) -> Column:
    """LINESTRING WKB from an ordered ARRAY<STRUCT<lon,lat>>."""

    @kernel
    def batch(s: pd.Series) -> pd.Series:
        return s.map(lambda pts: None if _is_null(pts) else _enc_linestring(_pts(pts)))

    return pandas_udf(batch, "binary")(coords)


def polygon_wkb(rings: Column) -> Column:
    """POLYGON WKB from ARRAY<ARRAY<STRUCT<lon,lat>>> (outer ring first)."""

    @kernel
    def batch(s: pd.Series) -> pd.Series:
        return s.map(lambda rs: None if _is_null(rs) else _enc_polygon([_pts(r) for r in rs]))

    return pandas_udf(batch, "binary")(rings)


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
    coordinate — the round-trip check that pins the byte layout."""

    @kernel
    def batch(s: pd.Series) -> pd.DataFrame:
        rows = []
        for buf in s:
            if _is_null(buf):
                rows.append((None, None, None, None))
            else:
                g, n, x, y, _ = _walk(bytes(buf), 0)
                rows.append((g, n, x, y))
        return pd.DataFrame(rows, columns=["gtype", "n_points", "x1", "y1"])

    return pandas_udf(batch, "gtype int, n_points int, x1 double, y1 double")(wkb)


def attach_wkb(df: DataFrame, wkt_col: str = "geometry", out_col: str = "geometry_wkb") -> DataFrame:
    """Append a WKB BinaryType column next to the WKT one, tagged with the
    EPSG:4326 CRS convention (the reference's GeoDataFrame carries the same
    CRS — ``_frame.py:54-56``)."""
    return df.withColumn(out_col, wkt_to_wkb(col(wkt_col))).withMetadata(out_col, CRS_METADATA)
