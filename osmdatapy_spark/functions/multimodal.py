"""Multimodal column plumbing (north-star scope): opaque binary payloads +
typed metadata, processed in Arrow batches via ``mapInPandas``.

Decode tiers (the batch plumbing is identical for all three — swapping
the inner function changes nothing about schema/partitioning):

1. ``sniff_image_meta`` — REAL header decode for PNG/GIF/BMP/JPEG from
   their public byte layouts; no imaging library needed, runs anywhere.
2. PIL pixel decode/resize — import-gated (``HAS_PIL``): used
   automatically by ``real_decode_meta``/``real_resize`` when Pillow is
   installed; the header sniffer is the fallback for metadata, and
   resize raises ``NotImplementedError`` without PIL.
3. ``fake_decode_meta`` — deterministic md5-derived stand-in, kept as
   the oracle-portable default (a DuckDB oracle can replay md5, not an
   image codec).

Scale shape: mapInPandas streams Arrow batches; payload bytes never
round-trip through Python row objects.  Partitioning is whatever the
binary source gives (e.g. `binaryFile` one-file-per-row, or a parquet
table of blobs); no shuffle is introduced.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmdatapy_spark._pyworker import kernel

DECODE_META_SCHEMA = "doc_id long, n_bytes long, fake_width int, fake_height int"

try:  # import-gated real pixel decoder (not present in every deployment)
    from PIL import Image as _PILImage  # type: ignore

    HAS_PIL = True
except ImportError:
    _PILImage = None
    HAS_PIL = False


def sniff_image_meta(payload: bytes) -> Optional[tuple[str, int, int]]:
    """(format, width, height) parsed straight from the public header byte
    layouts of PNG / GIF / BMP / JPEG — a real metadata decode with zero
    library dependencies.  Returns None for unrecognized payloads."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])  # IHDR width/height
        return "png", w, h
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])  # logical screen size
        return "gif", w, h
    if payload[:2] == b"BM" and len(payload) >= 26:
        w, h = struct.unpack("<ii", payload[18:26])  # BITMAPINFOHEADER
        return "bmp", w, abs(h)  # negative height = top-down rows
    if payload[:2] == b"\xff\xd8":  # JPEG: walk markers to a SOF segment
        pos = 2
        while pos + 9 < len(payload) and payload[pos] == 0xFF:
            marker, seglen = payload[pos + 1], struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
                return "jpeg", w, h
            pos += 2 + seglen
    return None


def real_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Same interface as ``fake_decode_meta`` but REAL: PIL pixel decode
    when available, header sniffing otherwise.  Raises NotImplementedError
    for formats neither path understands — per-batch callers decide
    whether to skip or fail."""
    if HAS_PIL:
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as im:
                return len(payload), int(im.width), int(im.height)
        except Exception:
            pass  # fall through to the header sniffer
    meta = sniff_image_meta(payload)
    if meta is None:
        raise NotImplementedError("unrecognized image payload (no PIL, no known header)")
    return len(payload), meta[1], meta[2]


def real_resize(payload: bytes, width: int, height: int) -> bytes:
    """PIL-backed resample returning PNG bytes — the real implementation
    behind ``fake_resize``'s interface; import-gated on Pillow."""
    if not HAS_PIL:
        raise NotImplementedError("real_resize requires Pillow")
    import io

    with _PILImage.open(io.BytesIO(payload)) as im:
        buf = io.BytesIO()
        im.resize((width, height)).save(buf, format="PNG")
        return buf.getvalue()


def fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decode: (n_bytes, width, height)
    derived from md5(payload).  Replace with a real decoder when the
    imaging libraries are available (raise NotImplementedError there for
    formats you don't handle)."""
    h = hashlib.md5(payload).hexdigest()
    width = 64 + int(h[:2], 16)
    height = 64 + int(h[2:4], 16)
    return len(payload), width, height


def decode_binary_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, int]] = fake_decode_meta,
) -> DataFrame:
    """Arrow-batched metadata extraction over a binary column.  ``decoder``
    slots the real path (``real_decode_meta``) in place of the md5 stub —
    the plumbing (schema, batching, partitioning) is identical."""

    @kernel
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decoder(b) for b in pdf[bin_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pd.array([m[0] for m in meta], dtype="int64"),
                    "fake_width": pd.array([m[1] for m in meta], dtype="int32"),
                    "fake_height": pd.array([m[2] for m in meta], dtype="int32"),
                }
            )

    return df.select(id_col, bin_col).mapInPandas(run, schema=DECODE_META_SCHEMA)


def fake_features(payload: bytes, dim: int = 4) -> list[float]:
    """Deterministic stand-in for an embedding model: component j is an
    md5-derived float in [0, 1).  Replace with a real encoder (CLIP et al.)
    when available — the Arrow-batch plumbing around it doesn't change."""
    out = []
    for j in range(dim):
        h = hashlib.md5(payload + f"|{j}".encode()).hexdigest()
        out.append((int(h[:8], 16) % 1000) / 1000.0)
    return out


def extract_features(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", dim: int = 4
) -> DataFrame:
    """Feature extraction over a binary column: one DOUBLE column per
    component (f0..f{dim-1}), Arrow-batched via mapInPandas.  Wide columns
    (not an array) so the result joins/filters without element_at overhead
    downstream; no shuffle introduced."""
    schema = f"{id_col} long, " + ", ".join(f"f{j} double" for j in range(dim))

    @kernel
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_features(b, dim) for b in pdf[bin_col]]
            out = {id_col: pdf[id_col].astype("int64")}
            for j in range(dim):
                out[f"f{j}"] = pd.array([f[j] for f in feats], dtype="float64")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(run, schema=schema)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: tile md5(payload) out to
    exactly width*height bytes.  A real implementation decodes + resamples
    (PIL/opencv) — raise NotImplementedError there for unsupported formats;
    the batch plumbing is unchanged."""
    need = width * height
    seed = hashlib.md5(payload).digest()
    reps = need // len(seed) + 1
    return (seed * reps)[:need]


def resize_binary(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    resizer: Callable[[bytes, int, int], bytes] = fake_resize,
) -> DataFrame:
    """Resize every payload to width×height via mapInPandas — bytes stay in
    Arrow buffers between JVM and Python, never per-row pickled.
    ``resizer`` slots ``real_resize`` (PIL-gated) over the same plumbing."""

    @kernel
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "resized": [resizer(b, width, height) for b in pdf[bin_col]],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(
        run, schema=f"{id_col} long, resized binary"
    )


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    frame_bytes: int = 16,
    every: int = 4,
) -> DataFrame:
    """Frame sampling over an opaque video-shaped payload: split into fixed
    ``frame_bytes`` frames, keep every ``every``-th, emit one row per kept
    frame (doc_id, frame_idx, frame_md5, n_bytes).  The one-input-row →
    many-output-rows shape is the real deliverable: mapInPandas handles
    flatMap-style expansion without an explode shuffle, and a real decoder
    (ffmpeg keyframe extraction) slots into the same loop."""

    @kernel
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests, sizes = [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[bin_col]):
                n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every):
                    chunk = payload[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(int(did))
                    idxs.append(i)
                    digests.append(hashlib.md5(chunk).hexdigest())
                    sizes.append(len(chunk))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int64"),
                    "frame_md5": digests,
                    "n_bytes": pd.array(sizes, dtype="int64"),
                }
            )

    return df.select(id_col, bin_col).mapInPandas(
        run, schema=f"{id_col} long, frame_idx long, frame_md5 string, n_bytes long"
    )
