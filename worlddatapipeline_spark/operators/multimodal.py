"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

LLM-data-pipeline extension surface (repo charter): a 100 TB training-data
pipeline carries media as `binary` columns with a typed metadata struct, and
runs decode / feature-extract / resize / frame-sample as Arrow-batched
Pandas operations over ``mapInPandas``.

The codec step behind ``_decode_bytes`` is REAL for every format parseable
with stdlib + numpy alone — BMP (indexed 1/4/8-bit incl. RLE8 runs,
24/32-bit truecolor), RIFF/WAV (integer PCM 8/16/24/32-bit,
any channel count, deeper depths reduced to the offset-binary top
byte), PNG (zlib inflate + scanline
unfilter; the FULL critical-chunk surface as of r10: gray at depth
1/2/4/8/16, RGB, palette, gray+alpha and RGBA color types at 8/16-bit,
Adam7 interlace; depth 16 reduces to the high byte, the WAV 16→8
convention; ancillary chunks like tRNS/gAMA are skipped — the contract
returns raw samples, which they do not alter), and huffman
JPEG sequential, progressive, lossless AND
hierarchical (canonical huffman + IDCT; grayscale and color at any integer
sampling layout incl. 4:2:0/4:2:2, restart intervals, 16-bit DQT/SOF1,
SOF2 spectral selection + successive approximation, SOF3 Annex-H
predictive with exact round-trips, and Annex-J DHP/EXP/SOF7 differential
pyramids with exact round-trips) — and STUBBED only for the FINAL
refusal set (decided r10; test-pinned):
there the clearly-marked deterministic fake views the payload bytes as
samples.  A real deployment swaps ONLY that function (e.g. for PIL /
libav via pip on the cluster image); every Spark-side concern here is
real and tested.

Refusal set — FINAL, each refusal falsifiable-or-refused by design:

- **mp4**: environment-bounded — an H.264/container decoder cannot be
  carried in stdlib + numpy; the stub is the documented swap point.
- **arithmetic JPEG (SOF9-SOF11)**: the T.81 Qe state table is not
  verifiable offline — a self-consistent encoder/decoder pair with a
  WRONG table passes every in-repo round-trip while misdecoding real
  streams; round-trip goldens prove nothing about table conformance, so
  an in-repo implementation would be unfalsifiable.  Refused until an
  external golden corpus exists to test against.
- **differential-DCT hierarchical frames (SOF5/SOF6)**: unlike the
  lossless pyramid (SOF3 initial + SOF7 differentials), whose EXACT byte
  round-trip is the oracle, a differential-DCT frame codes lossy DCT
  residuals — its round-trip is inherently inexact, so an in-repo
  encoder/decoder pair can only be tested against itself, and any
  self-consistent-but-wrong residual scaling/clamping convention passes
  every in-repo contract while misdecoding real streams.  Same
  unfalsifiability class as arithmetic coding; refused until an external
  golden corpus exists.  This decision is permanent absent such a
  corpus — do not re-litigate it per round.

Spark-side concerns (all real, all tested):

- schema: ``MEDIA_SCHEMA`` (binary payload + struct metadata, nullable rules)
- partitioning: media ops are pure maps — no shuffle; batch size bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of 100 MB
  blobs never materializes at once
- UDF signature: ``mapInPandas(fn, schema)`` with an iterator of
  pandas.DataFrame batches in and out (constant memory per batch)
- batch shape: one output row per input row (features), or fan-out rows
  (frame sampling) — both shapes exercised in tests/test_multimodal.py
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator, Mapping
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("modality", StringType(), False),   # image | audio | video
        StructField("format", StringType(), True),      # png / wav / mp4 ...
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("data", BinaryType(), True),
        StructField("meta", MEDIA_META, False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mean_intensity", DoubleType(), True),
        StructField("std_intensity", DoubleType(), True),
        StructField("histogram_mode", IntegerType(), True),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_data", BinaryType(), True),
    ]
)


# identity grayscale palette: an 8-bit gray image is an indexed image over it
_GRAY_PALETTE = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)


def encode_bmp_indexed(
    indices: np.ndarray,
    palette: np.ndarray,
    bit_depth: int = 8,
    rle: bool = False,
) -> bytes:
    """Encode a (h, w) index array + (n, 3) RGB palette as a REAL
    indexed BMP at bit depth 1/4/8 — packed most-significant-bits-first
    within each byte for sub-byte depths (spec), rows bottom-up and
    4-byte padded; ``rle=True`` (8-bit only) emits BI_RLE8 compression:
    maximal encoded runs per row, 00 00 end-of-line, 00 01
    end-of-bitmap.  Completes the BMP surface alongside PNG/WAV (r10).
    ``_decode_bmp`` (and any stock viewer) round-trips it."""
    import struct  # noqa: PLC0415

    if bit_depth not in (1, 4, 8):
        raise ValueError(f"bad BMP palette bit depth {bit_depth}")
    if rle and bit_depth != 8:
        raise ValueError("RLE encoding is 8-bit only (BI_RLE8)")
    pal = np.ascontiguousarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= 256:
        raise ValueError("palette must be (n, 3) uint8 with 1 <= n <= 256")
    if len(pal) > (1 << bit_depth):
        raise ValueError("palette larger than bit depth allows")
    src = np.asarray(indices)
    if src.size and (np.min(src) < 0 or int(np.max(src)) >= len(pal)):
        raise ValueError("palette index out of range")
    idx = np.ascontiguousarray(src, dtype=np.uint8)
    if idx.ndim == 1:
        idx = idx[None, :]
    h, w = idx.shape
    if rle:
        out = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            x = 0
            row = idx[y]
            while x < w:
                v = row[x]
                run = 1
                while x + run < w and row[x + run] == v and run < 255:
                    run += 1
                out += bytes((run, int(v)))
                x += run
            out += b"\x00\x00" if y else b"\x00\x01"  # EOL / EOB
        body = bytes(out)
        compression = 1
    else:
        if bit_depth == 8:
            packed = idx
        else:
            per = 8 // bit_depth
            padw = (-w) % per
            grid = np.pad(idx, ((0, 0), (0, padw)))
            cells = grid.reshape(h, -1, per).astype(np.uint16)
            acc = np.zeros((h, cells.shape[1]), dtype=np.uint16)
            for i in range(per):
                acc = (acc << bit_depth) | cells[:, :, i]
            packed = acc.astype(np.uint8)
        row_size = (packed.shape[1] + 3) & ~3
        rows = np.zeros((h, row_size), dtype=np.uint8)
        rows[:, : packed.shape[1]] = packed
        body = rows[::-1].tobytes()
        compression = 0
    n_pal = len(pal)
    offset = 14 + 40 + n_pal * 4
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(body), 0, 0, offset
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bit_depth, compression,
        len(body), 2835, 2835, n_pal, 0,
    )
    bgra = np.zeros((n_pal, 4), dtype=np.uint8)
    bgra[:, 0], bgra[:, 1], bgra[:, 2] = pal[:, 2], pal[:, 1], pal[:, 0]
    return header + info + bgra.tobytes() + body


def encode_wav_pcm(
    samples: np.ndarray, sample_rate: int = 8000, bits: int | None = None
) -> bytes:
    """Encode a sample array as a REAL PCM WAV (RIFF) container — the
    full integer-PCM surface as of r10.

    ``samples`` is 1-D (mono) or (n_frames, channels) interleaved.
    Depth from dtype: uint8 → 8-bit offset-binary; int16 → 16-bit
    little-endian; int32 → 32-bit, or 24-bit packed 3-byte little-endian
    frames when ``bits=24`` (values range-checked against ±2^23 BEFORE
    packing — the narrowing-cast aliasing lesson).  Plain struct packing,
    no codec library; any audio tool opens the output and ``_decode_wav``
    round-trips it (depths > 8 reduce to the top byte of the
    offset-binary value, the standard PCM reduction).
    """
    import struct  # noqa: PLC0415

    s = np.ascontiguousarray(samples)
    channels = 1 if s.ndim == 1 else s.shape[1]
    if s.ndim > 2 or not 1 <= channels <= 16:
        raise ValueError("samples must be 1-D mono or (frames, channels<=16)")
    # an explicit `bits` must MATCH the dtype-derived depth — silently
    # emitting a different depth than the caller asked for is the
    # wrong-but-valid-output class (review catch r10)
    allowed = {np.dtype(np.uint8): (8,), np.dtype(np.int16): (16,),
               np.dtype(np.int32): (24, 32)}.get(s.dtype, ())
    if bits is not None and bits not in allowed:
        raise ValueError(f"bits={bits} unsupported for dtype {s.dtype}")
    if s.dtype == np.uint8:
        bits, payload = 8, s.tobytes()
    elif s.dtype == np.int16:
        bits, payload = 16, s.astype("<i2").tobytes()
    elif s.dtype == np.int32 and bits == 24:
        flat = s.reshape(-1)
        if flat.size and (
            int(flat.min()) < -(1 << 23) or int(flat.max()) >= (1 << 23)
        ):
            raise ValueError("sample out of range for 24-bit PCM")
        le4 = flat.astype("<i4").view(np.uint8).reshape(-1, 4)
        payload = np.ascontiguousarray(le4[:, :3]).tobytes()
    elif s.dtype == np.int32:
        bits, payload = 32, s.astype("<i4").tobytes()
    else:
        raise ValueError(
            f"unsupported sample dtype {s.dtype} (uint8/int16/int32)"
        )
    block = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits
    )
    data_len = len(payload)
    riff_len = 4 + (8 + len(fmt)) + (8 + data_len)
    return (
        struct.pack("<4sI4s", b"RIFF", riff_len, b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", data_len)
        + payload
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


# Adam7 interlace pass geometry (PNG spec §8.2): (x0, y0, dx, dy) per pass.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _png_pack_rows(vals: np.ndarray, bitd: int) -> np.ndarray:
    """Pack a (h, n) grid of per-pixel values into the (h, stride) PNG
    scanline byte grid at bit depth 1/2/4/8 — most significant bits carry
    the leftmost pixel (spec §7.2), last byte zero-padded.  One vectorized
    shift-fold over the whole pass (the per-row form made every 16×16
    audit image pay ~h Python calls; r11 guide §4.2)."""
    if bitd == 8:
        return np.ascontiguousarray(vals, dtype=np.uint8)
    h, n = vals.shape
    per = 8 // bitd
    pad = (-n) % per
    v = vals.astype(np.uint16)
    if pad:
        v = np.concatenate(
            [v, np.zeros((h, pad), dtype=np.uint16)], axis=1
        )
    v = v.reshape(h, -1, per)
    out = np.zeros(v.shape[:2], dtype=np.uint16)
    for i in range(per):
        out = (out << bitd) | v[:, :, i]
    return out.astype(np.uint8)


def _png_unpack_rows(rows: np.ndarray, n: int, bitd: int) -> np.ndarray:
    """Inverse of :func:`_png_pack_rows`: the first ``n`` per-pixel values
    of each scanline of a (h, stride) byte grid, as (h, n)."""
    if bitd == 8:
        return rows[:, :n]
    per = 8 // bitd
    mask = (1 << bitd) - 1
    vals = np.stack(
        [(rows >> (8 - bitd * (i + 1))) & mask for i in range(per)], axis=2
    ).reshape(rows.shape[0], -1)
    return vals[:, :n]


def _png_passes(w: int, h: int, interlace: int):
    """Non-empty (x0, y0, dx, dy, pass_w, pass_h) tuples in transmission
    order — the single full-frame pass when non-interlaced."""
    geo = _ADAM7 if interlace else [(0, 0, 1, 1)]
    for x0, y0, dx, dy in geo:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            yield x0, y0, dx, dy, pw, ph


def _png_raw_scanlines(px: np.ndarray, bitd: int, interlace: bool) -> bytes:
    """Filter-type-0 scanline stream for every pass of ``px`` — (h, w)
    or (h, w, nch), uint8 (depth <= 8) or uint16 (depth 16, written
    big-endian).  Each pass is built as ONE (ph, 1 + stride) byte grid
    (filter column + packed samples) instead of a per-row pack + join —
    byte-identical output, ~h fewer Python calls per pass (r11 §4.2)."""
    h, w = px.shape[:2]
    nch = 1 if px.ndim == 2 else px.shape[2]
    parts = []
    for x0, y0, dx, dy, pw, ph in _png_passes(w, h, 1 if interlace else 0):
        flat = px[y0::dy, x0::dx].reshape(ph, pw * nch)
        if bitd == 16:
            grid = (
                np.ascontiguousarray(flat, dtype=">u2")
                .view(np.uint8)
                .reshape(ph, -1)
            )
        else:
            grid = _png_pack_rows(flat, bitd)
        out = np.empty((ph, grid.shape[1] + 1), dtype=np.uint8)
        out[:, 0] = 0
        out[:, 1:] = grid
        parts.append(out.tobytes())
    return b"".join(parts)


def encode_png_indexed(
    indices: np.ndarray,
    palette: np.ndarray,
    bit_depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Encode a (h, w) index array + (n, 3) RGB palette as a REAL
    color-type-3 (paletted) PNG at bit depth 1/2/4/8 — the shape icon
    and screenshot corpora actually ship.  Sub-byte depths pack most
    significant bits first per spec §7.2; ``interlace=True`` emits
    Adam7.  ``_decode_png`` (and any stock viewer) round-trips it."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    if bit_depth not in (1, 2, 4, 8):
        raise ValueError(f"bad PNG palette bit depth {bit_depth}")
    pal = np.ascontiguousarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= 256:
        raise ValueError("palette must be (n, 3) uint8 with 1 <= n <= 256")
    if len(pal) > (1 << bit_depth):
        raise ValueError("palette larger than bit depth allows")
    # Range-check the CALLER's array before any uint8 cast: an
    # out-of-range index like 256 (or -1) would otherwise alias mod 256
    # into the valid range and pass validation, emitting a
    # wrong-but-well-formed PNG (ADVICE r9).
    src = np.asarray(indices)
    if src.size and (
        np.min(src) < 0 or int(np.max(src)) >= len(pal)
    ):
        raise ValueError("palette index out of range")
    idx = np.ascontiguousarray(src, dtype=np.uint8)
    if idx.ndim == 1:
        idx = idx[None, :]
    h, w = idx.shape
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, 3, 0, 0, 1 if interlace else 0
    )
    raw = _png_raw_scanlines(idx, bit_depth, interlace)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


_PNG_NCH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # samples per pixel by color type


def encode_png(
    samples: np.ndarray,
    color_type: int,
    bit_depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Encode a sample grid as a REAL PNG at ANY IHDR-legal (color type,
    bit depth) combination except paletted (ct 3 — that is
    :func:`encode_png_indexed`): grayscale (ct 0) at depth 1/2/4/8/16,
    truecolor (ct 2), gray+alpha (ct 4) and RGBA (ct 6) at 8/16 — the
    full critical-chunk surface (r10; closes the gap list from r9).

    ``samples`` is (h, w) for gray or (h, w, nch) for multi-channel —
    uint8-ranged for depth <= 8 (sub-byte values must fit the depth),
    uint16-ranged for depth 16 (written big-endian per spec §7.1).
    Scanlines are written with filter type 0; ``interlace=True`` emits
    Adam7.  ``_decode_png`` (and any stock viewer) reads the output;
    note the decode contract reduces depth-16 samples to their high byte
    (the WAV 16→8 convention), so the exact-round-trip pin at depth 16
    is on the high bytes."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    if color_type not in (0, 2, 4, 6):
        raise ValueError(f"bad PNG color type {color_type} (3 = indexed)")
    legal = (1, 2, 4, 8, 16) if color_type == 0 else (8, 16)
    if bit_depth not in legal:
        raise ValueError(
            f"bad PNG bit depth {bit_depth} for color type {color_type}"
        )
    nch = _PNG_NCH[color_type]
    src = np.asarray(samples)
    if color_type == 0 and src.ndim == 1:
        src = src[None, :]
    want_ndim = 2 if color_type == 0 else 3
    if src.ndim != want_ndim or (want_ndim == 3 and src.shape[2] != nch):
        raise ValueError(
            f"color type {color_type} needs a "
            f"{'(h, w)' if want_ndim == 2 else f'(h, w, {nch})'} array"
        )
    # range-check the CALLER's array before any narrowing cast (the
    # encode_png_indexed aliasing lesson, ADVICE r9)
    top = (1 << bit_depth) - 1
    if src.size and (np.min(src) < 0 or int(np.max(src)) > top):
        raise ValueError(f"sample out of range for bit depth {bit_depth}")
    px = np.ascontiguousarray(
        src, dtype=np.uint16 if bit_depth == 16 else np.uint8
    ).reshape(src.shape[0], src.shape[1], nch)
    h, w = px.shape[:2]

    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 1 if interlace else 0
    )
    raw = _png_raw_scanlines(px, bit_depth, interlace)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(
    raw: bytes, h: int, stride: int, fbpp: int, offset: int
) -> tuple[np.ndarray, int]:
    """Unfilter ``h`` scanlines of ``stride`` bytes starting at
    ``raw[offset]`` (``fbpp`` = the spec's filtering byte distance); returns
    the (h, stride) byte grid and the new offset.  All five filter types
    decode: None/Sub/Up are vectorized (Sub is a per-lane uint8 cumsum —
    numpy's wraparound IS the mod-256 add), Average/Paeth fall back to a
    per-byte scan (correctness path for foreign encoders; our own encoder
    emits filter 0)."""
    need = h * (stride + 1)
    if offset + need > len(raw):
        raise ValueError("PNG scanline length mismatch")
    scan = np.frombuffer(
        raw, dtype=np.uint8, count=need, offset=offset
    ).reshape(h, stride + 1)
    # fast path: every scanline filter type 0 (None) — the only stream
    # our own encoder emits — decodes as one slice instead of a per-row
    # loop (r11 §4.2); any other filter byte falls to the general scan
    if not scan[:, 0].any():
        return scan[:, 1:], offset + need
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, row = int(scan[y, 0]), scan[y, 1:]
        if f == 0:  # None
            cur = row.copy()
        elif f == 1:  # Sub: per-lane mod-256 prefix sum
            cur = np.empty(stride, dtype=np.uint8)
            for lane in range(fbpp):
                cur[lane::fbpp] = np.cumsum(row[lane::fbpp], dtype=np.uint8)
        elif f == 2:  # Up
            cur = row + prev  # uint8 wraparound = mod-256
        elif f in (3, 4):  # Average / Paeth: sequential by definition
            # per-BYTE pure-Python scan ⇒ the 64x-tighter cap class the
            # JPEG per-sample loops use (4M vs the 256M vectorized cap):
            # a foreign Paeth-filtered pass above this would pin an
            # executor in the interpreter; filters 0/1/2 (incl. every
            # stream our own encoder emits) stay vectorized and uncapped
            # up to the PNG dims cap (r10, VERDICT r9 item 7)
            if h * stride > 4_194_304:
                raise ValueError(
                    "PNG Average/Paeth pass exceeds pure-Python decode cap"
                )
            cur = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - fbpp]) if x >= fbpp else 0
                b = int(prev[x])
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - fbpp]) if x >= fbpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out, offset + need


def _decode_png(data: bytes) -> np.ndarray:
    """Real PNG decode with stdlib zlib + numpy alone: walks the chunk
    list, inflates the concatenated IDAT stream, and un-filters scanlines
    per the PNG spec.  Supports 8-bit grayscale (color type 0), 8-bit
    truecolor RGB (color type 2), and PALETTED images (color type 3) at
    bit depth 1/2/4/8, each with or without ADAM7 interlacing (seven
    sub-image passes, each filtered independently at its own stride) —
    the shapes a training pipeline's thumbnails/masks/icons actually use.
    Returns a FLAT uint8 array — grayscale values, per-channel byte
    samples for RGB (the `_decode_bmp` 24-bit convention), or — matching
    the BMP paletted convention — the palette's integer-mean luminance
    per index for color type 3 (identity for a grayscale palette).
    """
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    if bytes(data[:8]) != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, idat, plte = 8, None, [], None
    while pos + 8 <= len(data):
        clen, tag = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8 : pos + 8 + clen]
        if pos + 12 + clen > len(data):
            raise ValueError("truncated PNG chunk")
        # Verify the chunk CRC: a bit-corrupted but structurally valid PNG
        # must fall through to the byte-view stub like every other
        # malformed container, not decode to garbage samples.
        (crc,) = struct.unpack_from(">I", data, pos + 8 + clen)
        if zlib.crc32(bytes(tag) + bytes(body)) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, bitd, ct, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"PLTE":
            plte = bytes(body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + clen
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    ok = (
        (ct == 0 and bitd in (1, 2, 4, 8, 16))
        or (ct in (2, 4, 6) and bitd in (8, 16))
        or (ct == 3 and bitd in (1, 2, 4, 8))
    )
    if not ok or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG (bit depth={bitd}, color type={ct}, "
            f"interlace={interlace})"
        )
    if ct == 3:
        if not plte or len(plte) % 3 or not 3 <= len(plte) <= 768:
            raise ValueError("paletted PNG missing/malformed PLTE")
    nch = _PNG_NCH[ct]
    fbpp = max(1, (nch * bitd) // 8)
    # Untrusted-header guards (the JPEG paths had these since r6; PNG
    # gained them in r10): IHDR dims are attacker/corpus controlled, so
    # cap the sample allocation BEFORE it happens — same 256M-sample
    # class cap as the vectorized DCT paths — and inflate the IDAT
    # stream BOUNDED to the byte count the declared geometry implies, so
    # a zlib bomb can never materialize gigabytes before the scanline
    # mismatch check fires.
    if h * w * nch > 268_435_456:
        raise ValueError("PNG dimensions exceed decode cap")
    expected = sum(
        ph * (-(-pw * nch * bitd // 8) + 1)
        for _x0, _y0, _dx, _dy, pw, ph in _png_passes(w, h, interlace)
    )
    raw = zlib.decompressobj().decompress(b"".join(idat), expected + 1)
    img = np.zeros((h, w, nch), dtype=np.uint8)
    offset = 0
    for x0, y0, dx, dy, pw, ph in _png_passes(w, h, interlace):
        stride = -(-pw * nch * bitd // 8)
        rows, offset = _png_unfilter(raw, ph, stride, fbpp, offset)
        if bitd == 16:
            # big-endian samples: the high byte sits at even offsets —
            # depth-16 reduces to its top byte, the WAV 16→8 convention
            vals = rows[:, 0::2][:, : pw * nch]
        else:
            vals = _png_unpack_rows(rows, pw * nch, bitd)
            if ct == 0 and bitd < 8:
                # sub-byte GRAY samples scale by bit replication
                # (255/(2^d-1): ×255/×85/×17 — exact integers);
                # ct-3 values stay raw palette indices
                vals = (
                    vals.astype(np.uint16) * (255 // ((1 << bitd) - 1))
                ).astype(np.uint8)
        img[y0::dy, x0::dx, :] = vals.reshape(ph, pw, nch)
    if offset != len(raw):
        raise ValueError("PNG scanline length mismatch")
    if ct == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        lum = (pal.astype(np.int32).sum(axis=1) // 3).astype(np.uint8)
        return lum[idx].reshape(-1)
    return img.reshape(-1)


def _decode_bmp(data: bytes) -> np.ndarray:
    """Real BMP decode with numpy alone — the full classic surface as of
    r10: indexed 1/4/8-bit (packed MSB-first for sub-byte depths),
    BI_RLE8 runs (encoded + absolute mode, EOL/EOB; delta moves REFUSE —
    no in-repo encoder emits them, and a wrong cursor model would decode
    silently shifted pixels), 24-bit and 32-bit BI_RGB truecolor.
    Parses both headers, honors bottom-up vs top-down row order, the
    4-byte row padding, and biClrUsed-sized palettes; returns a FLAT
    uint8 intensity array — indexed pixels map through the palette's
    integer-mean luminance (identity for a grayscale palette), 24/32-bit
    return the per-channel byte samples as stored (BGR / BGRx).
    """
    import struct  # noqa: PLC0415

    offset = struct.unpack_from("<I", data, 10)[0]
    info_size = struct.unpack_from("<I", data, 14)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    clr_used = struct.unpack_from("<I", data, 46)[0] if info_size >= 36 else 0
    ok = (compression == 0 and bpp in (1, 4, 8, 24, 32)) or (
        compression == 1 and bpp == 8
    )
    if not ok:
        raise ValueError(
            f"unsupported BMP (bpp={bpp}, compression={compression})"
        )
    top_down = h < 0
    h = abs(h)
    # negative/zero width would BYPASS the cap below (negative product)
    # and silently decode to an empty sample array instead of refusing
    # (review catch r10) — biWidth is positive by spec
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    # untrusted-header cap before any h*w allocation (RLE especially:
    # tiny payloads can declare huge dims) — same class as the PNG cap
    if h * w * (bpp // 8 or 1) > 268_435_456:
        raise ValueError("BMP dimensions exceed decode cap")

    def lum_lut() -> np.ndarray:
        n = clr_used or (1 << bpp)
        pal = np.frombuffer(
            data, dtype=np.uint8, count=n * 4, offset=14 + info_size
        )
        pal = pal.reshape(n, 4)[:, :3].astype(np.uint16)  # B, G, R
        return (pal.sum(axis=1) // 3).astype(np.uint8)

    if compression == 1:  # BI_RLE8 (always bottom-up per spec)
        # payload bound: with delta moves refused, each 2-byte run covers
        # at most 255 pixels, so a stream can fill at most 128 per byte
        if h * w > 128 * (len(data) - offset):
            raise ValueError("BMP RLE8 dimensions exceed payload bound")
        grid = np.zeros((h, w), dtype=np.uint8)
        pos, x, y = offset, 0, h - 1
        while pos + 1 < len(data):
            n, v = data[pos], data[pos + 1]
            pos += 2
            if n:  # encoded run
                end = min(x + n, w)
                grid[y, x:end] = v
                x = end
            elif v == 0:  # end of line
                x, y = 0, y - 1
                if y < 0:
                    break
            elif v == 1:  # end of bitmap
                break
            elif v == 2:
                raise ValueError("BMP RLE delta moves unsupported")
            else:  # absolute mode: v literal bytes, word-aligned
                end = min(x + v, w)
                lit = np.frombuffer(data, np.uint8, count=v, offset=pos)
                grid[y, x:end] = lit[: end - x]
                x = end
                pos += v + (v & 1)
        lut = lum_lut()
        # same refusal contract as the plain path: ValueError, never a
        # bare IndexError out of the lut indexing (review catch r10)
        if int(grid.max(initial=0)) >= len(lut):
            raise ValueError("BMP palette index out of range")
        return lut[grid].reshape(-1)

    row_size = ((bpp * w + 31) // 32) * 4
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)
    if not top_down:
        rows = rows[::-1]
    if bpp in (24, 32):
        px = rows[:, : w * (bpp // 8)]
        return np.ascontiguousarray(px).reshape(-1)
    if bpp == 8:
        px = rows[:, :w]
    else:  # 1/4-bit: unpack MSB-first, first w values per row
        per = 8 // bpp
        mask = (1 << bpp) - 1
        packed = rows[:, : -(-w // per)]
        px = np.stack(
            [(packed >> (8 - bpp * (i + 1))) & mask for i in range(per)],
            axis=2,
        ).reshape(h, -1)[:, :w]
    lut = lum_lut()
    if int(px.max(initial=0)) >= len(lut):
        raise ValueError("BMP palette index out of range")
    return lut[px].reshape(-1)


def _decode_wav(data: bytes) -> np.ndarray:
    """Real WAV decode with numpy alone (integer PCM 8/16/24/32-bit, any
    channel count — frames stay interleaved in the flat output): walks
    the RIFF chunk list to the fmt/data chunks and returns a FLAT uint8
    amplitude view — 8-bit samples as-is, deeper samples mapped to the
    top byte of the offset-binary value (the standard PCM bit-depth
    reduction)."""
    import struct  # noqa: PLC0415

    if data[8:12] != b"WAVE":
        raise ValueError("not a WAVE file")
    pos, bits, payload = 12, None, None
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            audio_fmt, _, _, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV format code {audio_fmt}")
        elif cid == b"data":
            payload = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if bits is None or payload is None:
        raise ValueError("WAV missing fmt/data chunk")
    if bits == 8:
        return np.frombuffer(payload, dtype=np.uint8)
    if bits == 16:
        s = np.frombuffer(payload, dtype="<i2").astype(np.int32)
        return ((s + 32768) >> 8).astype(np.uint8)
    if bits == 24:
        # 3-byte little-endian frames: the top byte of (s + 2^23) is the
        # signed high byte with its sign bit flipped — pure byte algebra,
        # no unpacking loop
        n = len(payload) - len(payload) % 3
        b = np.frombuffer(payload, dtype=np.uint8, count=n)
        return (b[2::3] ^ 0x80).astype(np.uint8)
    if bits == 32:
        s = np.frombuffer(payload, dtype="<i4")
        return (((s >> 24).astype(np.int32) + 128) & 0xFF).astype(np.uint8)
    raise ValueError(f"unsupported WAV bit depth {bits}")


# ---------------------------------------------------------------------------
# Baseline JPEG (huffman + DCT), stdlib + numpy alone — VERDICT r5 item 10.
# Standard Annex K luminance huffman tables (public constants from the JPEG
# spec, ITU-T T.81 Tables K.3/K.5).
# ---------------------------------------------------------------------------

_JPEG_DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# zigzag scan order: _JPEG_ZIGZAG[i] = (row-major) position of the i-th
# zigzag coefficient
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


@functools.lru_cache(maxsize=1)
def _dct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix A — identical to the JPEG spec's
    scaling: F = A · f · Aᵀ (forward), f = Aᵀ · F · A (inverse).  Cached
    (deterministic constant rebuilt on every encode/decode call — §4.5)
    and frozen so no caller can mutate the shared instance."""
    x = np.arange(8)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    a *= np.sqrt(2.0 / 8.0)
    a[0] = np.sqrt(1.0 / 8.0)
    a.setflags(write=False)
    return a


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical huffman codes per T.81 C.2: {symbol: (code, length)}."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_lookup(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Decoder view of the same canonical table: {(length, code): symbol}."""
    return {
        (length, code): sym
        for sym, (code, length) in _huff_codes(bits, vals).items()
    }


# Annex-K encoder tables, derived once at import (every encode call was
# rebuilding these deterministic dicts — §4.5).  Read-only by convention.
_JPEG_DC_CODES_K = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_CODES_K = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)


def _min_bits_per_lossless_sample(
    tabs: list[dict[tuple[int, int], int]],
) -> int:
    """Lower bound on entropy-coded bits per lossless sample, derived from
    the scan's PARSED DC tables: one huffman symbol per sample (category 0
    carries no magnitude bits), at the shortest code length any of the
    scan's tables defines.  A fixed 2-bit assumption would falsely refuse
    a conformant foreign stream whose category-0 code is 1 bit — and the
    refusal path silently mis-decodes via the byte-view stub rather than
    decoding (ADVICE r9).  NB the DCT paths' 2-bits-per-BLOCK floor is
    exact and needs no such derivation: a block costs at least a DC symbol
    plus an EOB symbol from two distinct tables, each >= 1 bit."""
    return max(
        1,
        min(
            min(length for length, _ in tab) if tab else 1 for tab in tabs
        ),
    )


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits): negatives as one's-complement per F.1.2.1."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    return size, (v if v > 0 else v + (1 << size) - 1)


def _jpeg_magnitude_arrays(d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized :func:`_jpeg_magnitude` over an int64 array: (size, amp)
    arrays with the identical category / one's-complement convention.
    ``frexp``'s exponent is the bit length of every |d| < 2^53 (float64
    holds it exactly), and 0 maps to 0."""
    size = np.frexp(np.abs(d))[1].astype(np.int64)
    amp = np.where(d >= 0, d, d + np.left_shift(1, size) - 1)
    return size, amp


_PACK_CHUNK_SYMS = 1 << 20  # symbols per packing slice (transient-memory cap)


def _pack_segments_np(
    vals: np.ndarray, nbits: np.ndarray, seg_ends: np.ndarray
) -> list[bytes]:
    """Bit-identical vectorized form of one reference ``_BitWriter``
    stream (``tests/ref_bitio.py``) per segment, all packed in one pass:
    each value's low ``nbits`` bits MSB-first in order, each segment
    flush-padded with 1-bits to a byte boundary, every 0xFF data byte
    stuffed with 0x00 (T.81 B.1.1.5), which stays with its segment.
    ``seg_ends`` holds the symbol index one past each segment.

    Packed in ``_PACK_CHUNK_SYMS``-symbol slices with a sub-byte bit
    remainder carried between them: the single-pass form materialized
    several int64 arrays of length total-bits (~25× the output stream in
    transient memory), which an uncapped encoder-side image could turn
    into hundreds of MB (ADVICE r11).  Slicing bounds the transient to
    the chunk while producing the identical bit stream — each segment
    ends byte-aligned, so the remainder never survives the last chunk."""
    vals = vals.astype(np.int64, copy=False)
    nbits = nbits.astype(np.int64, copy=False)
    seg_ends = np.asarray(seg_ends, dtype=np.int64)
    bit_ends = np.concatenate(([0], np.cumsum(nbits)))[seg_ends]
    seg_bits = np.diff(bit_ends, prepend=0)
    pad = (-seg_bits) % 8  # a zero-width pad symbol where already aligned
    vals = np.insert(vals, seg_ends, (1 << pad) - 1)
    nbits = np.insert(nbits, seg_ends, pad)
    byte_ends = (bit_ends + np.cumsum(pad)) // 8
    pieces: list[np.ndarray] = [np.empty(0, dtype=np.uint8)]
    carry = np.empty(0, dtype=np.uint8)
    for lo in range(0, len(vals), _PACK_CHUNK_SYMS):
        v = vals[lo : lo + _PACK_CHUNK_SYMS]
        nb = nbits[lo : lo + _PACK_CHUNK_SYMS]
        tot = int(nb.sum())
        starts = np.cumsum(nb) - nb
        rep_bits = np.repeat(nb, nb)
        intra = np.arange(tot, dtype=np.int64) - np.repeat(starts, nb)
        bits = ((np.repeat(v, nb) >> (rep_bits - 1 - intra)) & 1).astype(
            np.uint8
        )
        if carry.size:
            bits = np.concatenate([carry, bits])
        keep = (len(bits) // 8) * 8
        pieces.append(np.packbits(bits[:keep]))
        carry = bits[keep:]
    packed = np.concatenate(pieces)
    ff = np.flatnonzero(packed == 0xFF)
    if len(ff):
        packed = np.insert(packed, ff + 1, 0)
        byte_ends += np.searchsorted(ff, byte_ends)
    buf = packed.tobytes()
    bounds = [0, *byte_ends.tolist()]
    return [buf[lo:hi] for lo, hi in zip(bounds, bounds[1:])]


def _pack_bits_np(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """:func:`_pack_segments_np` over one segment: the whole stream."""
    return _pack_segments_np(vals, nbits, [len(vals)])[0]


def _lossless_scan_bits(
    diffs: list[np.ndarray], dc_codes: dict[int, tuple[int, int]]
) -> bytes:
    """Entropy-coded bytes of one interleaved 1×1-sampling lossless scan
    (category code + amplitude per sample, component-interleaved in
    row-major order) — bit-identical to a per-sample loop over the
    reference ``_BitWriter`` (``tests/ref_bitio.py``), vectorized (§4.2)."""
    d = (
        np.stack([df.reshape(-1) for df in diffs], axis=1)
        .reshape(-1)
        .astype(np.int64)
    )
    size, amp = _jpeg_magnitude_arrays(d)
    ctab, ltab = _codes_as_arrays(dc_codes, int(size.max(initial=0)))
    lens = ltab[size]
    if not lens.all():  # category outside the table = the old KeyError
        raise KeyError(int(size[np.argmin(lens)]))
    vals2 = np.empty(2 * len(d), dtype=np.int64)
    nb2 = np.empty(2 * len(d), dtype=np.int64)
    vals2[0::2] = ctab[size]
    nb2[0::2] = lens
    vals2[1::2] = amp
    nb2[1::2] = size
    keep = nb2 > 0
    return _pack_bits_np(vals2[keep], nb2[keep])


def _codes_as_arrays(
    codes: dict[int, tuple[int, int]], top: int
) -> tuple[np.ndarray, np.ndarray]:
    """(code, length) lookup arrays over symbols 0..top for vectorized
    encoding; length 0 marks a symbol absent from the table (the old
    per-symbol dict access raised KeyError there — callers reproduce it)."""
    ctab = np.zeros(top + 1, dtype=np.int64)
    ltab = np.zeros(top + 1, dtype=np.int64)
    for s, (code, length) in codes.items():
        if s <= top:
            ctab[s], ltab[s] = code, length
    return ctab, ltab


# Annex-K lookup arrays, derived once at import for the vectorized encoder.
_JPEG_DC_ARRS_K = _codes_as_arrays(_JPEG_DC_CODES_K, 16)
_JPEG_AC_ARRS_K = _codes_as_arrays(_JPEG_AC_CODES_K, 255)


class _BufferedBitWriter:
    """Buffered bit writer that records (value, nbits) pairs and packs
    each segment through :func:`_pack_bits_np` at flush/restart —
    bit-identical by construction (same MSB-first order,
    1-bit flush padding, 0xFF00 stuffing, raw unstuffed RSTm bytes), at
    a fraction of the per-call cost (§4.2: the per-symbol ``write`` loop
    dominated the progressive encoder).  Pinned against the reference
    ``_BitWriter`` in ``tests/ref_bitio.py`` by a differential test over
    random write/restart sequences."""

    __slots__ = ("_vals", "_nbits", "_chunks")

    def __init__(self) -> None:
        self._vals: list[int] = []
        self._nbits: list[int] = []
        self._chunks: list[bytes] = []

    def write(self, code: int, length: int) -> None:
        self._vals.append(code)
        self._nbits.append(length)

    def _pack_segment(self) -> None:
        if self._vals:
            self._chunks.append(
                _pack_bits_np(
                    np.array(self._vals, dtype=np.int64),
                    np.array(self._nbits, dtype=np.int64),
                )
            )
            self._vals, self._nbits = [], []

    def restart(self, m: int) -> None:
        self._pack_segment()
        self._chunks.append(bytes([0xFF, 0xD0 + (m & 7)]))

    def flush(self) -> bytes:
        self._pack_segment()
        return b"".join(self._chunks)


def _jpeg_entropy_encode(
    planes: list[np.ndarray],
    q: np.ndarray,
    sampling: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
) -> list[bytes]:
    """Shared baseline entropy encoder: one (n, ph, pw) stack of padded
    uint8-valued float planes per component in, the n images' scans out.
    Interleaved MCU order — per MCU, ``vs×hs`` 8×8 blocks per component
    (row-major), one DC predictor per component, Annex-K tables for every
    component.  ``sampling`` gives each plane's (hs, vs) factor (default
    all-(1,1): one block per plane per MCU); each plane must arrive padded
    to its own MCU-aligned shape (8·hs·mcus_x wide).  ``restart_interval``
    > 0 emits an RSTm marker (m cycling 0–7) after every that-many MCUs —
    byte-aligned, DC predictors reset — matching a DRI segment the
    container must then declare (T.81 §B.2.4.4): the resynchronization
    layout real encoders emit so one corrupt bit can't poison a whole
    scan, and the unit a parallel decoder splits on."""
    sampling = sampling or [(1, 1)] * len(planes)
    n, h0, w0 = planes[0].shape
    hs0, vs0 = sampling[0]
    mcus_y, mcus_x = h0 // (8 * vs0), w0 // (8 * hs0)
    n_mcu = mcus_y * mcus_x
    n_per_mcu = sum(hs * vs for hs, vs in sampling)
    nb = n * n_mcu * n_per_mcu
    if nb == 0:
        return [b""] * n

    # Segments are (image, restart interval) pairs, numbered image-major.
    n_seg1 = -(-n_mcu // restart_interval) if restart_interval else 1
    mcu = np.arange(n * n_mcu)
    seg_of_mcu = (mcu // n_mcu) * n_seg1
    if restart_interval:
        seg_of_mcu += (mcu % n_mcu) // restart_interval

    # Phase 1 — one stacked FDCT + quantize per component (bit-identical
    # to per-block 2-D matmuls, unlike einsum: see _quantized_block_coefs),
    # each component's blocks in scan order with its DC turned into first
    # differences (reset to 0 at segment starts), then interleaved into
    # per-image MCU order as zigzag rows.
    units = []
    for coefs, (hs, vs) in zip(_quantized_block_coefs(planes, q), sampling):
        u = (
            coefs.reshape(n, mcus_y, vs, mcus_x, hs, 64)
            .transpose(0, 1, 3, 2, 4, 5)
            .reshape(n * n_mcu, hs * vs, 64)
        )
        dc, sg = u[..., 0].reshape(-1), np.repeat(seg_of_mcu, hs * vs)
        pr = np.concatenate(([0], dc[:-1]))
        pr[np.concatenate(([True], sg[1:] != sg[:-1]))] = 0
        u[..., 0] = (dc - pr).reshape(n * n_mcu, hs * vs)
        units.append(u)
    zz = np.concatenate(units, axis=1).reshape(nb, 64)
    seg_id = np.repeat(seg_of_mcu, n_per_mcu)

    # Phase 2 — vectorized huffman symbol generation (§4.2: the per-symbol
    # bit-writer loop was >70 % of encode time).  Pure integer work, so the
    # stream is bit-identical by construction; a differential test pins it
    # against the verbatim pre-r12 per-block loop.
    dc_size, dc_amp = _jpeg_magnitude_arrays(zz[:, 0])
    if int(dc_size.max(initial=0)) > 16:  # beyond any DHT = old KeyError
        raise KeyError(int(dc_size.max()))
    dcc_tab, dcl_tab = _JPEG_DC_ARRS_K
    dc_lens = dcl_tab[dc_size]
    if not dc_lens.all():  # category outside the table = the old KeyError
        raise KeyError(int(dc_size[np.argmin(dc_lens)]))

    # AC: run-lengths between nonzeros per block, ZRL splits, EOB flags.
    acs = zz[:, 1:]
    bi, pj = np.nonzero(acs)  # row-major: sorted by (block, position)
    pos = pj + 1
    prevpos = np.empty(len(pos), dtype=np.int64)
    if len(pos):
        prevpos[0] = 0
        prevpos[1:] = pos[:-1]
        prevpos[np.concatenate(([True], bi[1:] != bi[:-1]))] = 0
    run = pos - prevpos - 1
    ac_size, ac_amp = _jpeg_magnitude_arrays(acs[bi, pj])
    nzrl = run >> 4
    # an AC category above 15 would alias into the run nibble of the
    # (run, size) byte; _jpeg_quant's entries >= 1 keep size <= 11, so
    # this is the old per-symbol KeyError for a category beyond any DHT
    if int(ac_size.max(initial=0)) > 15:
        raise KeyError(int(ac_size.max()))
    sym = ((run & 15) << 4) | ac_size
    acc_tab, acl_tab = _JPEG_AC_ARRS_K
    ac_lens = acl_tab[sym]
    if not ac_lens.all():  # (run, size) outside the table = old KeyError
        raise KeyError(int(sym[np.argmin(ac_lens)]))
    zrl_code, zrl_len = _JPEG_AC_CODES_K[0xF0]
    eob_code, eob_len = _JPEG_AC_CODES_K[0x00]
    lastpos = np.zeros(nb, dtype=np.int64)
    lastpos[bi] = pos  # duplicate fancy-index writes keep the LAST = max
    eob_blocks = np.flatnonzero(lastpos < 63)

    # Assemble the symbol stream in block order via unique sort keys:
    # (block, zigzag position, sub-slot) with DC at position 0 and EOB at
    # 64; sub-slots order ZRLs (0..2, run <= 62 so <= 3 of them) before
    # the (run,size) code (4) and its amplitude (5).
    def key(b, p, s):
        return (b * 65 + p) * 8 + s

    n_zrl_total = int(nzrl.sum())
    zidx = np.repeat(np.arange(len(bi)), nzrl)
    zsub = (
        np.arange(n_zrl_total, dtype=np.int64)
        - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
    )
    blocks = np.arange(nb, dtype=np.int64)
    vals = np.concatenate([
        dcc_tab[dc_size],
        dc_amp,
        np.full(n_zrl_total, zrl_code, dtype=np.int64),
        acc_tab[sym],
        ac_amp,
        np.full(len(eob_blocks), eob_code, dtype=np.int64),
    ])
    nbits = np.concatenate([
        dc_lens,
        dc_size,
        np.full(n_zrl_total, zrl_len, dtype=np.int64),
        ac_lens,
        ac_size,
        np.full(len(eob_blocks), eob_len, dtype=np.int64),
    ])
    keys = np.concatenate([
        key(blocks, 0, 0),
        key(blocks, 0, 1),
        key(bi[zidx], pos[zidx], zsub),
        key(bi, pos, 4),
        key(bi, pos, 5),
        key(eob_blocks, 64, 0),
    ])
    order = np.argsort(keys)
    vals, nbits = vals[order], nbits[order]
    item_seg = seg_id[keys[order] // (65 * 8)]
    live = nbits > 0  # zero-size DC amplitudes carry no bits
    vals, nbits, item_seg = vals[live], nbits[live], item_seg[live]

    # Pack every segment in one pass (flush-padded with 1-bits, 0xFF00-
    # stuffed — the restart/flush semantics of tests/ref_bitio.py's
    # _BitWriter), then join each image's segments with RSTm (m cycling
    # 0-7), raw marker bytes never stuffed (T.81 §B.2.1).
    segs = _pack_segments_np(
        vals, nbits, np.searchsorted(item_seg, np.arange(1, n * n_seg1 + 1))
    )
    for k in range(len(segs)):
        if k % n_seg1:
            segs[k] = bytes([0xFF, 0xD0 + ((k % n_seg1 - 1) & 7)]) + segs[k]
    return [
        b"".join(segs[k : k + n_seg1]) for k in range(0, len(segs), n_seg1)
    ]


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    """One marker segment: 0xFF, the marker byte, the big-endian length
    (body plus the two length bytes), the body.  Every JPEG encoder lists
    its container through this and the builders below."""
    import struct  # noqa: PLC0415

    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _jpeg_stream(*parts: bytes) -> bytes:
    """SOI, the listed segments and entropy-coded scans, EOI."""
    return b"".join((b"\xff\xd8", *parts, b"\xff\xd9"))


def _jpeg_app(raw_rgb: bool) -> bytes:
    """The colour-space declaration.  JFIF APP0 for YCbCr or grayscale;
    JFIF mandates YCbCr for 3-component streams, so raw R,G,B components
    (the lossless encoders' colour case — losslessness is the point)
    declare Adobe APP14 with transform=0 instead, or external decoders
    would colour-convert and misrender."""
    import struct  # noqa: PLC0415

    if raw_rgb:
        return _jpeg_seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0))
    return _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")


def _jpeg_dqt(q: np.ndarray) -> bytes:
    """Quantization table 0: pq=0 (8-bit) when every value fits, pq=1
    (16-bit big-endian) otherwise."""
    import struct  # noqa: PLC0415

    if int(q.max()) > 255:
        return _jpeg_seg(
            0xDB, bytes([0x10]) + b"".join(struct.pack(">H", int(v)) for v in q)
        )
    return _jpeg_seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q))


def _jpeg_sof(
    marker: int, h: int, w: int, sampling: list[tuple[int, int]]
) -> bytes:
    """Frame header (SOF0/1/2/3/7, and DHP, which shares its layout):
    8-bit precision, components 1..n with their (hs, vs) sampling
    factors, every component on quantization table 0."""
    import struct  # noqa: PLC0415

    return _jpeg_seg(
        marker,
        struct.pack(">BHHB", 8, h, w, len(sampling))
        + b"".join(
            bytes([cid, (hs << 4) | vs, 0])
            for cid, (hs, vs) in enumerate(sampling, 1)
        ),
    )


def _jpeg_dht(ac: bool) -> bytes:
    """The Annex-K DC table as table 0, followed by the Annex-K AC table
    as table 0 when ``ac`` (the lossless processes code DC-style
    differences only)."""
    body = bytes([0x00]) + bytes(_JPEG_DC_BITS[1:]) + bytes(_JPEG_DC_VALS)
    if ac:
        body += bytes([0x10]) + bytes(_JPEG_AC_BITS[1:]) + bytes(_JPEG_AC_VALS)
    return _jpeg_seg(0xC4, body)


def _jpeg_dri(restart_interval: int) -> bytes:
    """DRI segment, or nothing when ``restart_interval`` is 0."""
    import struct  # noqa: PLC0415

    if not restart_interval:
        return b""
    return _jpeg_seg(0xDD, struct.pack(">H", restart_interval))


def _jpeg_sos(
    comp_ids, ss: int, se: int, ah: int = 0, al: int = 0
) -> bytes:
    """Scan header binding each listed component to huffman tables 0/0:
    spectral selection ``ss``..``se`` (the predictor in ``ss`` for the
    lossless processes) and the successive-approximation nibbles."""
    ids = list(comp_ids)
    return _jpeg_seg(
        0xDA,
        bytes([len(ids)])
        + b"".join(bytes([cid, 0x00]) for cid in ids)
        + bytes([ss, se, (ah << 4) | al]),
    )


def _jpeg_container(h: int, w: int, q: np.ndarray, n_comp: int,
                    scans: list[bytes],
                    sampling: list[tuple[int, int]] | None = None,
                    restart_interval: int = 0) -> list[bytes]:
    """Assemble one sequential JFIF byte stream around each entropy-coded
    scan of a batch, the header built once: APP0, DQT (table 0), SOF0
    with per-component sampling factors (default 1×1 everywhere), the
    Annex-K DC/AC table pair, a DRI segment when ``restart_interval`` >
    0, SOS binding every component to them."""
    sampling = sampling or [(1, 1)] * n_comp
    # T.81 forbids a 16-bit (pq=1) DQT under SOF0 (baseline), so such a
    # table makes the frame SOF1 (extended sequential, huffman, same scan
    # layout at 8-bit precision) and the stream stays spec-conforming for
    # stock decoders (review catch r7).
    head = b"".join((
        _jpeg_app(raw_rgb=False),
        _jpeg_dqt(q),
        _jpeg_sof(0xC1 if int(q.max()) > 255 else 0xC0, h, w, sampling),
        _jpeg_dht(ac=True),
        _jpeg_dri(restart_interval),
        _jpeg_sos(range(1, n_comp + 1), 0, 63),
    ))
    return [_jpeg_stream(head, scan) for scan in scans]


def _jpeg_quant(quant: np.ndarray | None) -> np.ndarray:
    """The 64-entry quantization table (all ones by default).  Entries
    must lie in 1..65535, the range a DQT segment can carry: a 0 divides
    by zero and a fraction below 1 truncates to 0, and either would emit a
    stream the decoder refuses.  With every entry >= 1, 8-bit planes keep
    |coefficient| <= 1024, so every huffman category fits Annex K."""
    if quant is None:
        return np.ones(64, dtype=np.int32)
    q = np.asarray(quant).reshape(64)
    if not ((q >= 1) & (q <= 65535)).all():
        raise ValueError("JPEG quantization entries must lie in 1..65535")
    return q.astype(np.int32)


def _jpeg_one(pixels: np.ndarray) -> np.ndarray:
    """One image as a batch of one (a 1-D array is one row of pixels)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    return (px[None, :] if px.ndim == 1 else px)[None]


def _jpeg_prepare_planes(
    stack: np.ndarray, subsampling: str
) -> tuple[int, int, list[np.ndarray], list[tuple[int, int]]]:
    """Shared encoder prep (sequential + progressive) over a stack of
    same-shape images, (n, h, w) gray or (n, h, w, 3) RGB uint8:
    RGB→YCbCr (BT.601 full-range), edge padding to the MCU grid, and 2×2
    box-average chroma subsampling for 4:2:0.  Returns
    ``(h, w, planes, sampling)`` with one (n, ph, pw) float64 stack per
    component, already padded to its MCU-aligned shape.

    The float expressions here are deliberately shared VERBATIM by both
    encoders: the progressive==sequential decode bit-identity contract
    requires identical plane values, and a rephrased expression can
    differ in the last ulp, flipping ``np.round`` at .5 boundaries
    (round-7 lesson; see ``_quantized_block_coefs``)."""
    if stack.ndim != 3 and (stack.ndim != 4 or stack.shape[3] != 3):
        raise ValueError("JPEG encoder expects (h, w) or (h, w, 3) pixels")
    n, h, w = stack.shape[:3]

    def pad(p, m):  # edge-replicate rows and columns to multiples of m
        return np.pad(p, ((0, 0), (0, -h % m), (0, -w % m)), mode="edge")

    if stack.ndim == 3:
        return h, w, [pad(stack.astype(np.float64), 8)], [(1, 1)]
    fpx = stack.astype(np.float64)
    r, g, b = fpx[..., 0], fpx[..., 1], fpx[..., 2]
    ycc = [
        0.299 * r + 0.587 * g + 0.114 * b,                    # Y
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,        # Cb
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,        # Cr
    ]
    if subsampling == "4:4:4":
        planes = [pad(np.clip(np.round(p), 0, 255), 8) for p in ycc]
        return h, w, planes, [(1, 1)] * 3
    if subsampling != "4:2:0":
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    # 4:2:0: MCU is 16×16 luma pixels — pad everything to 16-multiples
    # (edge replication), box-average the UNROUNDED chroma planes 2×2
    # (one rounding step instead of two), round/clip each stored plane.
    full = [pad(p, 16) for p in ycc]
    ph, pw = full[0].shape[1:]
    planes = [np.clip(np.round(full[0]), 0, 255)] + [
        np.clip(
            np.round(c.reshape(n, ph // 2, 2, pw // 2, 2).mean(axis=(2, 4))),
            0,
            255,
        )
        for c in full[1:]
    ]
    return h, w, planes, [(2, 2), (1, 1), (1, 1)]


def _parse_dqt(body: bytes, qtables: dict[int, np.ndarray]) -> None:
    """DQT segment parse shared by the sequential and progressive
    decoders (the lossless processes carry no DQT) — pq=0: 8-bit entries;
    pq=1: 16-bit big-endian; any other precision nibble is stream
    corruption — refuse (→ byte-view stub) rather than misparse the byte
    span and dequantize with garbage (review catch r7)."""
    i = 0
    while i < len(body):
        pq, tq = body[i] >> 4, body[i] & 0x0F
        if pq == 1:
            qtables[tq] = np.frombuffer(
                body[i + 1 : i + 129], dtype=">u2"
            ).astype(np.int32)
            i += 129
            continue
        if pq != 0:
            raise ValueError(f"bad DQT precision {pq}")
        qtables[tq] = np.frombuffer(
            body[i + 1 : i + 65], dtype=np.uint8
        ).astype(np.int32)
        i += 65


class _HuffTable(Mapping):
    """One parsed DHT table: a read-only ``{(length, code): symbol}``
    view plus its flat lookup forms, each built on first use.
    ``_parse_dht`` hands out one instance per table payload, so a form
    built for one stream serves every later stream carrying the same
    table: the scalar LUT (:func:`_huff_lut`) and the 16-bit lane LUTs
    of :func:`_decode_jpeg_lanes`.  There is no item assignment or
    deletion: a caller that mutated a shared table would corrupt every
    later stream carrying it."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self._codes = _huff_lookup(bits, vals)

    def __getitem__(self, key: tuple[int, int]) -> int:
        return self._codes[key]

    def __iter__(self):
        return iter(self._codes)

    def __len__(self) -> int:
        return len(self._codes)

    @functools.cached_property
    def lut(self) -> tuple[bytes, bytes, int]:
        return _huff_lut(self._codes)

    @functools.cached_property
    def lane_dc(self) -> np.ndarray:
        return _lane_lut(self.lut, ac=False)

    @functools.cached_property
    def lane_ac(self) -> np.ndarray:
        return _lane_lut(self.lut, ac=True)


_DHT_CACHE: dict[bytes, _HuffTable] = {}


def _parse_dht(
    body: bytes, htables: dict[tuple[int, int], _HuffTable]
) -> None:
    """DHT segment parse shared by the sequential, progressive and
    lossless-frame decoders: one or more canonical tables per segment,
    keyed (tc, th).  Each table is cached (bounded, keyed on the raw
    bits+vals bytes): every stream this repo's encoders emit carries the
    same Annex-K pair, so per-image re-derivation was pure waste (§4.5);
    foreign tables still build correctly and the cache clears itself at
    64 entries.  The cached :class:`_HuffTable` carries the table's
    lookup forms, so they too are built once per payload."""
    i = 0
    while i < len(body):
        tc, th = body[i] >> 4, body[i] & 0x0F
        bits = [0] + list(body[i + 1 : i + 17])
        nv = sum(bits)
        if i + 17 + nv > len(body):
            raise ValueError("truncated JPEG huffman table")
        key = bytes(body[i + 1 : i + 17 + nv])
        hit = _DHT_CACHE.get(key)
        if hit is None:
            hit = _HuffTable(bits, list(body[i + 17 : i + 17 + nv]))
            if len(_DHT_CACHE) > 64:
                _DHT_CACHE.clear()
            _DHT_CACHE[key] = hit
        htables[(tc, th)] = hit
        i += 17 + nv


def _parse_sof(body: bytes) -> tuple[int, int, list[tuple[int, int, int, int]]]:
    """SOF frame-header parse + validation shared by the sequential,
    progressive and lossless-frame decoders (DHP shares the layout):
    returns ``(h, w, comps)`` with comps as (id, hs, vs, tq).  A single-
    component frame is normalized to 1×1 sampling — its scans are
    non-interleaved by definition (T.81 §A.2.2), so declared factors
    don't shape the data."""
    import struct  # noqa: PLC0415

    if len(body) < 6:
        raise ValueError("truncated JPEG frame header")
    prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
    if prec != 8:
        raise ValueError("non-8-bit JPEG unsupported")
    comps: list[tuple[int, int, int, int]] = []
    for ci in range(nc):
        cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
        hs, vs = samp >> 4, samp & 0x0F
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError(f"bad JPEG sampling factors {hs}x{vs}")
        comps.append((cid, hs, vs, tq))
    if len(comps) not in (1, 3):
        raise ValueError(f"{len(comps)}-component JPEG unsupported")
    if len(comps) == 1:
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    return h, w, comps


def _jpeg_geometry(
    comps: list[tuple[int, int, int, int]], h: int, w: int
) -> tuple[int, int, int, int, int]:
    """Interleaved-MCU geometry (T.81 §A.2.3) shared by the sequential
    and progressive decoders: returns ``(hmax, vmax, mcus_x, mcus_y,
    n_blocks)``."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if any(hmax % c[1] or vmax % c[2] for c in comps):
        raise ValueError("non-integer chroma upsampling ratio unsupported")
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    n_blocks = mcus_x * mcus_y * sum(hs * vs for _, hs, vs, _ in comps)
    return hmax, vmax, mcus_x, mcus_y, n_blocks


def _parse_sos(
    body: bytes,
) -> tuple[list[tuple[int, int, int]], int, int, int, int]:
    """SOS header parse shared by every decoder: ``(comps, ss, se, ah,
    al)`` with comps as (component id, DC table, AC table) in scan
    order; a header cut short raises ValueError."""
    if not body or len(body) < 4 + 2 * body[0]:
        raise ValueError("truncated JPEG scan header")
    ns = body[0]
    comps = [
        (body[1 + 2 * si], body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0x0F)
        for si in range(ns)
    ]
    ss, se, aa = body[1 + 2 * ns : 4 + 2 * ns]
    return comps, ss, se, aa >> 4, aa & 0x0F


def _parse_dri(body: bytes) -> int:
    """The restart interval a DRI segment declares."""
    if len(body) < 2:
        raise ValueError("truncated JPEG restart interval")
    return int.from_bytes(body[:2], "big")


class _JpegMarkers:
    """The marker walk all JPEG decoders share: checks SOI, then yields
    ``(marker, body)`` per marker segment — 0xFF alignment check, length
    field, body — until EOI or until fewer than ``tail`` bytes remain.
    A length field cut short raises ValueError; a body cut short is
    yielded as it is, and each parser refuses one it cannot read (a
    decoder that never reads the segment may still decode its scans).
    ``start`` is the offset of the segment just yielded and ``pos`` the
    offset just past it; a decoder that consumes an entropy-coded scan
    moves ``pos`` past the scan and the walk resumes there."""

    __slots__ = ("data", "tail", "start", "pos")

    def __init__(self, data: bytes, tail: int = 4) -> None:
        if data[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG")
        self.data, self.tail, self.start, self.pos = data, tail, 0, 2

    def __iter__(self) -> _JpegMarkers:
        return self

    def __next__(self) -> tuple[int, bytes]:
        data, pos = self.data, self.pos
        if pos + self.tail > len(data):
            raise StopIteration
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            raise StopIteration
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG marker segment")
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        self.start, self.pos = pos, pos + 2 + seglen
        return marker, data[pos + 4 : self.pos]


def encode_jpeg_gray8(
    pixels: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode a (h, w) uint8 array as a REAL baseline sequential JFIF JPEG
    (SOF0, one grayscale component, standard Annex K huffman tables).  The
    default quantization table is ALL ONES — near-lossless (error only from
    DCT-coefficient rounding, |Δ| ≤ 1 per pixel in practice), which is what
    makes a golden round-trip test meaningful for a lossy codec.  Any stock
    viewer/PIL opens the output; ``_decode_jpeg`` round-trips it.
    ``restart_interval`` > 0 declares a DRI segment and emits RSTm markers
    every that-many MCUs (the resync layout most camera/ffmpeg JPEGs use).
    """
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 3:
        raise ValueError("encode_jpeg_gray8 expects (h, w); use rgb24")
    return _encode_jpeg_batch(_jpeg_one(px), quant, "4:4:4", restart_interval)[0]


def encode_jpeg_rgb24(
    pixels: np.ndarray,
    quant: np.ndarray | None = None,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode a (h, w, 3) uint8 RGB array as a baseline JFIF JPEG — the
    color sibling of ``encode_jpeg_gray8``, sharing the Annex-K luminance
    huffman tables across all three components (legal baseline).

    ``subsampling`` picks the chroma layout: ``"4:4:4"`` (every component
    1×1 — the simplest golden-testable shape) or ``"4:2:0"`` (Y at 2×2,
    chroma box-averaged 2× in both axes — the layout virtually all real
    JPEGs use; the reference's own media pipeline emits ``yuv420p``,
    ``convert_frames_to_video.py:57-129``).  Default all-ones quantization
    keeps the loss down to YCbCr round-trip + DCT rounding (+ the chroma
    down/upsample term for 4:2:0), so the decoder's color and MCU-
    interleaving paths are testable with a tight error bound."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb24 expects (h, w, 3)")
    return _encode_jpeg_batch(px[None], quant, subsampling, restart_interval)[0]


def _encode_jpeg_batch(
    stack: np.ndarray,
    quant: np.ndarray | None = None,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> list[bytes]:
    """Sequential JFIF streams for a stack of same-shape images, (n, h, w)
    gray or (n, h, w, 3) RGB uint8, in one vectorized pass and under one
    container header.  ``encode_jpeg_gray8`` and ``encode_jpeg_rgb24``
    are its batch of one."""
    h, w, planes, sampling = _jpeg_prepare_planes(stack, subsampling)
    q = _jpeg_quant(quant)
    scans = _jpeg_entropy_encode(planes, q, sampling, restart_interval)
    return _jpeg_container(
        h, w, q, len(planes), scans, sampling, restart_interval
    )


def _jpeg_extend(amp: int, size: int) -> int:
    if size == 0:
        return 0
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


def _huff_lut(
    tab: Mapping[tuple[int, int], int],
) -> tuple[bytes, bytes, int]:
    """Flat decode table for a canonical-huffman dict {(length, code):
    sym}: ``(syms, lens, L)`` where indexing with the next ``L`` stream
    bits yields the symbol and its true length in one lookup (length 0 =
    invalid prefix).  Prefix-freeness makes this exactly equivalent to
    the bit-at-a-time ``_read_huff_sym`` walk kept as the reference in
    ``tests/ref_bitio.py``.  Both tables are ``bytes`` (a DHT symbol is
    one byte, a code at most 16 bits long): indexing them is about as
    fast as indexing a list, and a 16-bit table takes 64 KB instead of a
    list's 512 KB.  A :class:`_HuffTable`, the form every decoder
    parses, builds it once per DHT payload and keeps it; any other
    mapping builds it per call."""
    if isinstance(tab, _HuffTable):
        return tab.lut
    max_len = max((ln for ln, _ in tab), default=1)
    syms = np.zeros(1 << max_len, dtype=np.uint8)
    lens = np.zeros(1 << max_len, dtype=np.uint8)
    for (ln, code), sym in tab.items():
        base = code << (max_len - ln)
        span = 1 << (max_len - ln)
        syms[base : base + span] = sym
        lens[base : base + span] = ln
    return syms.tobytes(), lens.tobytes(), max_len


def _lane_lut(lut: tuple[bytes, bytes, int], ac: bool) -> np.ndarray:
    """A scalar LUT expanded to a 16-bit index, one packed int64 entry
    per window for the lane decoder: code length (bits 0-4), magnitude
    size (5-9), zero run (10-13), end of block (14).  A DC table's
    symbol is its size with no run; a DC size above 16 gets length 0,
    so the lane refuses and the stream falls to the scalar decoder.  An
    AC symbol of size 0 ends the block unless it is ZRL (run 15)."""
    syms, lens, max_len = lut
    idx = np.arange(1 << 16) >> (16 - max_len)
    sym = np.frombuffer(syms, dtype=np.uint8).astype(np.int64)[idx]
    ln = np.frombuffer(lens, dtype=np.uint8).astype(np.int64)[idx]
    if not ac:
        return np.where(sym > 16, 0, ln | (sym << 5))
    run, size = sym >> 4, sym & 0x0F
    eob = (size == 0) & (run != 15)
    return ln | (size << 5) | (run << 10) | (eob.astype(np.int64) << 14)


class _FastBits:
    """Sequential bit cursor over ONE unstuffed entropy segment,
    preprocessed in numpy: the segment runs from ``start`` to the first
    0xFF that is not a stuffed 0xFF00 pair (T.81 B.1.1.2 fill bytes —
    0xFF before another 0xFF — are NOT skipped: they terminate the
    segment like any marker prefix, exactly as the byte-at-a-time
    reference ``_BitReader`` in ``tests/ref_bitio.py`` rejects them; this
    repo's encoders never emit them); 0xFF00 pairs are unstuffed up
    front.  ``words`` holds the 32-bit big-endian window starting at
    every unstuffed byte offset
    (python list — low per-access overhead in the per-symbol loops), so
    reading ``k ≤ 16`` bits at bit position ``p`` is
    ``(words[p >> 3] >> (32 - k - (p & 7))) & ((1 << k) - 1)``.
    ``orig_pos`` maps bits consumed back to the stuffed byte offset the
    byte-at-a-time reference reader would have reached — the contract the
    lossless-frame decoder's scan-to-scan walk relies on."""

    __slots__ = (
        "words", "nbits", "pos", "start", "_drops", "term", "term_pos"
    )

    def __init__(
        self, data: bytes, start: int, ff_abs: np.ndarray | None = None
    ) -> None:
        """``ff_abs`` (optional): precomputed absolute offsets of every
        0xFF byte in ``data`` — decoders that re-anchor a reader per
        restart segment pass it so each segment's marker scan is
        O(segment) instead of O(rest-of-buffer) (quadratic for small
        restart intervals — ADVICE r11)."""
        n = len(data) - start
        if ff_abs is None:
            ff_rel = np.flatnonzero(
                np.frombuffer(data, dtype=np.uint8)[start:] == 0xFF
            )
        else:
            ff_rel = ff_abs[np.searchsorted(ff_abs, start):] - start
        end = n
        drops = []
        self.term = None  # marker byte ending the segment (None = data end)
        self.term_pos = start + end  # abs offset of the terminating 0xFF
        for p in ff_rel.tolist():
            if p + 1 >= n:
                end = p  # trailing 0xFF at data end: not readable anyway
                self.term_pos = start + p
                break
            if data[start + p + 1] == 0x00:
                drops.append(p + 1)
                continue
            end = p  # real marker terminates the segment
            self.term = data[start + p + 1]
            self.term_pos = start + p
            break
        arr = np.frombuffer(data, dtype=np.uint8)[start : start + end]
        drops = [d for d in drops if d < end]
        seg = np.delete(arr, drops) if drops else arr
        buf = np.zeros(len(seg) + 4, dtype=np.uint32)
        buf[: len(seg)] = seg
        self.words = (
            (buf[:-3] << 24) | (buf[1:-2] << 16) | (buf[2:-1] << 8) | buf[3:]
        ).tolist()
        self.nbits = len(seg) * 8
        self.pos = 0
        self.start = start
        # unstuffed index of each 0xFF whose stuffed 0x00 was dropped
        self._drops = [d - 1 - i for i, d in enumerate(drops)]

    def orig_pos(self) -> int:
        """Stuffed-stream byte offset after the bytes actually consumed —
        identical to the reference reader's ``pos`` (which consumed each
        byte, plus its stuffed 0x00, the moment any of its bits was
        read)."""
        consumed = (self.pos + 7) >> 3
        import bisect  # noqa: PLC0415

        return (
            self.start
            + consumed
            + bisect.bisect_left(self._drops, consumed)
        )


class _SeqFrame(NamedTuple):
    """A sequential (SOF0/SOF1) frame, parsed from the bytes before its
    entropy-coded scan: everything the sequential decoders need apart
    from the scan itself.  ``tables`` holds each component's (DC, AC)
    huffman tables and ``quant`` its quantization table (zigzag order),
    both in frame component order; ``scan_pos`` is the offset of the
    entropy-coded data."""

    h: int
    w: int
    comps: list[tuple[int, int, int, int]]  # (id, hs, vs, tq)
    hmax: int
    vmax: int
    mcus_x: int
    mcus_y: int
    n_blocks: int
    restart_interval: int
    scan_pos: int
    tables: list[tuple[_HuffTable, _HuffTable]]
    quant: list[np.ndarray]

    def mcu_comps(self) -> list[int]:
        """Component index of each block of one MCU, in scan order:
        per component, its vs×hs blocks row-major."""
        return [
            ci
            for ci, (_, hs, vs, _) in enumerate(self.comps)
            for _ in range(hs * vs)
        ]


def _jpeg_seq_frame(
    data: bytes,
) -> _SeqFrame | Callable[[bytes], np.ndarray]:
    """The marker walk of the sequential decoders, up to the first SOS.
    Returns the parsed frame, or the decoder a stream of another process
    delegates to.  It reads nothing past the SOS segment, so streams that
    agree up to there share one parse."""
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, hs, vs, tq)
    h = w = None
    scan_comps: list[tuple[int, int, int]] = []  # (id, dc_table, ac_table)
    scan_pos = None
    restart_interval = 0
    walk = _JpegMarkers(data)
    for marker, body in walk:
        # SOF1 (extended sequential, huffman) shares SOF0's scan layout at
        # 8-bit precision — only the Pq=1 DQT allowance differs — so it
        # decodes on the same path; SOF2 (progressive, huffman) delegates
        # to the multi-scan decoder; SOF3 (lossless, huffman) and DHP to
        # the lossless-frame decoder; everything else (arithmetic, bare
        # differential) refuses to the stub.
        if marker == 0xC2:
            return _decode_jpeg_progressive
        if marker in (0xC3, 0xDE):  # SOF3, or DHP (hierarchical, Annex J)
            return _decode_jpeg_lossless_frames
        # bare differential frames (SOF5-7 without a DHP reference) are
        # illegal; arithmetic stays refused (see NOTES_round9.md)
        if marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                      0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG SOF type FF{marker:02X}")
        if marker == 0xDD:  # DRI
            restart_interval = _parse_dri(body)
        if marker == 0xDB:  # DQT
            _parse_dqt(body, qtables)
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            h, w, comps = _parse_sof(body)
        elif marker == 0xC4:  # DHT
            _parse_dht(body, htables)
        elif marker == 0xDA:  # SOS
            scan_comps = _parse_sos(body)[0]
            scan_pos = walk.pos
            break
    if h is None or scan_pos is None or not comps:
        raise ValueError("JPEG missing SOF/SOS")
    if len(scan_comps) != len(comps):
        raise ValueError("partial (non-interleaved multi-component) scan")
    hmax, vmax, mcus_x, mcus_y, n_blocks = _jpeg_geometry(comps, h, w)
    # Untrusted-input guard (ADVICE r6): SOF dimensions are attacker/corpus
    # controlled, so bound the plane allocation BEFORE it happens: cap
    # absolute pixels so a crafted 65535x65535x3 header can never drive a
    # ~100 GB allocation (the decoders also check the payload floor).
    if n_blocks * 64 > 268_435_456:  # 256M samples ≈ 2 GB float64
        raise ValueError("JPEG dimensions exceed decode cap")
    # a flipped table or component id is corruption, refused like any other
    tabs = {cid: (dc, ac) for cid, dc, ac in scan_comps}
    try:
        tables = [
            (htables[(0, tabs[cid][0])], htables[(1, tabs[cid][1])])
            for cid, _, _, _ in comps
        ]
        quant = [qtables[tq] for _, _, _, tq in comps]
    except KeyError:
        raise ValueError(
            "JPEG scan names a table or component it lacks"
        ) from None
    return _SeqFrame(
        h, w, comps, hmax, vmax, mcus_x, mcus_y, n_blocks,
        restart_interval, scan_pos, tables, quant,
    )


def _decode_jpeg(data: bytes) -> np.ndarray:
    """Real baseline-JPEG decode with stdlib struct + numpy alone: marker
    walk, canonical huffman entropy decode, dequantize, inverse zigzag,
    orthonormal IDCT, level shift.  Supports baseline sequential (SOF0),
    8-bit AND 16-bit (pq=1) quantization tables, restart intervals
    (DRI/RSTm with marker-cycle verification and DC-predictor reset),
    1-component grayscale and 3-component YCbCr at ANY integer-ratio
    sampling-factor layout — 4:4:4, 4:2:0 (interleaved 16×16 MCUs, the
    layout virtually all real JPEGs use), 4:2:2, 4:4:0 — with
    nearest-neighbor chroma upsampling.  SOF2 (huffman progressive)
    delegates to ``_decode_jpeg_progressive``; SOF3 (huffman lossless)
    and DHP (hierarchical sequences, Annex J) delegate to
    ``_decode_jpeg_lossless_frames``; arithmetic coding, bare differential
    frames, and differential-DCT hierarchical frames raise ValueError so
    ``_decode_bytes`` falls back to the byte-view stub (the documented
    swap point for a full codec library at deployment).
    Returns a FLAT uint8 array —
    grayscale values, or interleaved per-channel RGB byte samples (the
    ``_decode_bmp`` 24-bit convention), cropped to the true SOF dims.

    This is the decoder for one stream.  A batch of streams goes through
    :func:`_decode_jpeg_batch`, which returns exactly this function's
    results: groups of at least ``_LANE_MIN_STREAMS`` sequential streams
    that share a header decode in numpy lanes, one huffman symbol per
    lane per step, and the rest come here.
    """
    frame = _jpeg_seq_frame(data)
    if not isinstance(frame, _SeqFrame):
        return frame(data)
    # A valid baseline scan needs at least 2 bits per 8x8 block, the EXACT
    # floor here (DC symbol + EOB symbol from two distinct tables, each
    # >= 1 bit) — unlike the lossless paths, which derive theirs from the
    # parsed DHTs (_min_bits_per_lossless_sample) — so the payload bytes
    # bound the plausible block count; a header that lies falls to the
    # byte-view stub via the caller's ValueError path.
    if frame.n_blocks > max(0, len(data) - frame.scan_pos) * 4 + 64:
        raise ValueError("JPEG scan too short for declared dimensions")

    def read_block(p, dc_lut, ac_lut, pred, zz):
        # table-driven fast form of the per-bit _read_huff_sym/bits walk
        # (reference kept in tests/ref_bitio.py) over the preprocessed
        # _FastBits segment (§4.2) — one LUT hit per symbol;
        # prefix-freeness makes it exactly equivalent
        dsyms, dlens, dl = dc_lut
        asyms, alens, al = ac_lut
        idx = ((words[p >> 3] >> (16 - (p & 7))) & 0xFFFF) >> (16 - dl)
        ln = dlens[idx]
        if ln == 0 or p + ln > navail:
            raise ValueError("bad huffman code")
        p += ln
        size = dsyms[idx]
        if size:
            if p + size > navail:
                raise ValueError("unexpected end of JPEG scan")
            amp = (words[p >> 3] >> (32 - size - (p & 7))) & (
                (1 << size) - 1
            )
            p += size
            pred += (
                amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1
            )
        zz[0] = pred
        k = 1
        while k < 64:
            idx = ((words[p >> 3] >> (16 - (p & 7))) & 0xFFFF) >> (16 - al)
            ln = alens[idx]
            if ln == 0 or p + ln > navail:
                raise ValueError("bad huffman code")
            p += ln
            rs = asyms[idx]
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("AC run past block end")
            if p + size > navail:
                raise ValueError("unexpected end of JPEG scan")
            amp = (words[p >> 3] >> (32 - size - (p & 7))) & (
                (1 << size) - 1
            )
            p += size
            zz[k] = (
                amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1
            )
            k += 1
        return pred, p

    coefs = np.zeros((frame.n_blocks, 64), dtype=np.int64)
    # all 0xFF offsets found once: each restart segment's reader then scans
    # only its own bytes (was O(rest-of-buffer) per segment — ADVICE r11)
    ff_abs = np.flatnonzero(np.frombuffer(data, dtype=np.uint8) == 0xFF)
    fbr = _FastBits(data, frame.scan_pos, ff_abs)
    words, navail = fbr.words, fbr.nbits
    p = 0
    preds = [0] * len(frame.comps)
    luts = [(_huff_lut(dc), _huff_lut(ac)) for dc, ac in frame.tables]
    mcu_comps = frame.mcu_comps()
    ri = frame.restart_interval
    blk = 0
    for mcu_idx in range(frame.mcus_x * frame.mcus_y):
        if ri and mcu_idx and mcu_idx % ri == 0:
            # RSTm between every `restart_interval` MCUs: byte-align,
            # check the 0–7 marker cycle, reset every DC predictor
            # (T.81 §E.2.4 — the property that makes restart spans
            # independently decodable, i.e. parallelizable).  The
            # marker must terminate THIS segment exactly where the
            # bit cursor stands (= the old restart_sync position
            # check), then decoding resumes in the next segment.
            fbr.pos = p
            if (
                fbr.term is None
                or not 0xD0 <= fbr.term <= 0xD7
                or fbr.orig_pos() != fbr.term_pos
            ):
                raise ValueError("missing JPEG restart marker")
            if (fbr.term & 0x07) != (mcu_idx // ri - 1) & 0x07:
                raise ValueError("JPEG restart marker out of sequence")
            fbr = _FastBits(data, fbr.term_pos + 2, ff_abs)
            words, navail = fbr.words, fbr.nbits
            p = 0
            preds = [0] * len(frame.comps)
        for ci in mcu_comps:
            preds[ci], p = read_block(p, *luts[ci], preds[ci], coefs[blk])
            blk += 1
    return _jpeg_seq_pixels(frame, coefs[None])[0]


# Lane decoding pays from this many same-header streams up; below it the
# per-step numpy overhead outweighs the per-symbol Python it replaces.
# Measured on one x86 core with 16x16 audit streams: lanes break even at
# ~48 gray, ~40 4:2:0 and ~25 restart-2 streams, and are 1.25-2.4x
# faster at 64.
_LANE_MIN_STREAMS = 64
# Blocks one lane pass holds (~512 bytes of coefficients each): a bigger
# group is decoded in slices, and images too large for a slice of
# _LANE_MIN_STREAMS streams stay on the scalar decoder.
_LANE_MAX_BLOCKS = 1 << 15


def _decode_jpeg_batch(streams: list[bytes]) -> list[np.ndarray]:
    """``[_decode_jpeg(s) for s in streams]``, by construction: the
    streams :func:`_decode_jpeg_lanes` decodes come from there and every
    other stream from ``_decode_jpeg``, so each refusal is that
    decoder's own ValueError."""
    return [
        _decode_jpeg(s) if got is None else got
        for s, got in zip(streams, _decode_jpeg_lanes(streams))
    ]


def _jpeg_scan_start(data: bytes) -> int | None:
    """Offset just past the first SOS segment, where the entropy-coded
    data starts: the marker walk up to there reads no byte past it, so
    every stream that starts with the same bytes walks the same way.
    None if the walk refuses first, or the SOS length field is short or
    runs past the data (the walk would read beyond the header)."""
    try:
        walk = _JpegMarkers(data)
        for marker, _ in walk:
            if marker == 0xDA:
                ok = walk.start + 4 <= walk.pos <= len(data)
                return walk.pos if ok else None
    except ValueError:
        pass
    return None


def _decode_jpeg_lanes(streams: list[bytes]) -> list[np.ndarray | None]:
    """Decode a batch of sequential JPEG streams in numpy lanes: each
    entry is ``_decode_jpeg``'s result bit for bit, or None where the
    stream is left to it.

    The streams are grouped by their header bytes (everything before
    the entropy-coded data), and each header is parsed once.  A group of
    at least ``_LANE_MIN_STREAMS`` SOF0/SOF1 streams is decoded by
    :func:`_jpeg_lane_coefs`, then one stacked dequantize + IDCT and one
    upsample and colour tail (:func:`_jpeg_seq_pixels`).  Every check the
    scalar decoder makes is made per lane; a stream failing any of them
    gets None, as do other processes and smaller groups."""
    out: list[np.ndarray | None] = [None] * len(streams)
    groups: dict[bytes, list[int]] = {}
    head = None
    for i, s in enumerate(streams):
        if head is None or not s.startswith(head):
            pos = _jpeg_scan_start(s)
            if pos is None:
                continue
            head = s[:pos]
        groups.setdefault(head, []).append(i)
    for head, idx in groups.items():
        if len(idx) < _LANE_MIN_STREAMS:
            continue
        try:
            frame = _jpeg_seq_frame(head)
        except ValueError:
            continue
        if not isinstance(frame, _SeqFrame) or not frame.n_blocks:
            continue
        step = _LANE_MAX_BLOCKS // frame.n_blocks
        if step < _LANE_MIN_STREAMS:
            continue
        for lo in range(0, len(idx), step):
            part = idx[lo : lo + step]
            done, coefs = _jpeg_lane_coefs(frame, [streams[i] for i in part])
            if not len(done):
                continue
            for j, px in zip(done.tolist(), _jpeg_seq_pixels(frame, coefs)):
                out[part[j]] = px
    return out


def _jpeg_lane_coefs(
    frame: _SeqFrame, streams: list[bytes]
) -> tuple[np.ndarray, np.ndarray]:
    """Entropy-decode streams that share ``frame``'s header, one lane
    per (stream, restart segment).  Returns the indices of the streams
    that decoded and their quantized blocks, (decoded, n_blocks, 64)
    int64 in zigzag and scan order, as ``_decode_jpeg`` fills them.

    The streams' entropy-coded bytes are split at their markers and
    unstuffed in one pass.  Then each step reads one huffman symbol and
    its magnitude bits for every live lane, through the lane LUTs of the
    frame's tables stacked in one array.  A lane fails on what fails the
    scalar decoder: an invalid code, a read past its segment, an AC run
    past 63, a restart marker missing, out of cycle or not where the
    previous segment ends; and a stream fails with any of its lanes or
    when its scan is shorter than the 2-bits-per-block floor."""
    n = len(streams)
    mcu_comps = frame.mcu_comps()
    n_mcu = frame.mcus_x * frame.mcus_y
    per_seg = frame.restart_interval or n_mcu
    n_seg = -(-n_mcu // per_seg)
    nb = per_seg * len(mcu_comps)  # blocks in a full segment

    tails = [s[frame.scan_pos :] for s in streams]
    lens = np.fromiter(map(len, tails), dtype=np.int64, count=n)
    ends = np.cumsum(lens)
    buf = np.frombuffer(b"".join(tails), dtype=np.uint8)
    ok = frame.n_blocks <= lens * 4 + 64
    # A 0xFF is stuffing when a 0x00 follows it inside its stream; any
    # other 0xFF is a marker, one ending its stream included.  The first
    # n_seg - 1 markers of a stream must be RST0-7 in cycle; segment j
    # runs from just past marker j - 1 up to marker j (or the stream end).
    ff = np.flatnonzero(buf == 0xFF)
    sid = np.searchsorted(ends, ff, side="right")
    last = ff + 1 == ends[sid]
    code = buf[np.minimum(ff + 1, len(buf) - 1)].astype(np.int64)
    code[last] = -1
    stuffed = code == 0
    mk, msid, mcode = ff[~stuffed], sid[~stuffed], code[~stuffed]
    first = np.searchsorted(msid, np.arange(n))
    count = np.searchsorted(msid, np.arange(n), side="right") - first
    rank = np.arange(len(mk)) - first[msid]
    ok &= count >= n_seg - 1
    rst = rank < n_seg - 1
    ok[msid[rst & (mcode != 0xD0 + (rank & 7))]] = False
    seg_lo = np.zeros((n, n_seg), dtype=np.int64)
    seg_lo[:, 0] = ends - lens
    seg_lo[msid[rst], rank[rst] + 1] = mk[rst] + 2
    seg_hi = np.repeat(ends[:, None], n_seg, axis=1)
    m = rank < n_seg
    seg_hi[msid[m], rank[m]] = mk[m]
    # unstuff, and read 32-bit big-endian windows at every byte
    keep = np.ones(len(buf), dtype=bool)
    keep[ff[stuffed] + 1] = False
    at = np.concatenate(([0], np.cumsum(keep))) * 8  # bit offset per byte
    u = np.concatenate((buf[keep], np.zeros(8, dtype=np.uint8)))
    u = u.astype(np.int64)
    w32 = (u[:-3] << 24) | (u[1:-2] << 16) | (u[2:-1] << 8) | u[3:]

    decoded = np.flatnonzero(ok)
    p = at[seg_lo[decoded]].reshape(-1)
    end = seg_end = at[seg_hi[decoded]].reshape(-1)
    left = np.full((len(decoded), n_seg), nb, dtype=np.int64)
    left[:, -1] = (n_mcu - (n_seg - 1) * per_seg) * len(mcu_comps)
    left = left.reshape(-1)
    n_lanes = len(p)
    # stacked lane LUTs; sched[2b] / sched[2b + 1] is the offset of the
    # DC / AC table of a segment's block b
    stack, offset = [], {}
    for dc, ac in frame.tables:
        for lut in (dc.lane_dc, ac.lane_ac):
            if id(lut) not in offset:
                offset[id(lut)] = len(stack) << 16
                stack.append(lut)
    lut_all = np.concatenate(stack)
    per_mcu = [
        offset[id(lut)]
        for ci in mcu_comps
        for lut in (frame.tables[ci][0].lane_dc, frame.tables[ci][1].lane_ac)
    ]
    sched = np.array(per_mcu * per_seg, dtype=np.int64)

    flat = np.zeros(n_lanes * nb * 64, dtype=np.int64)
    failed = np.zeros(n_lanes, dtype=bool)
    p_end = np.zeros(n_lanes, dtype=np.int64)
    lane = np.arange(n_lanes)
    b = np.zeros(n_lanes, dtype=np.int64)
    k = np.zeros(n_lanes, dtype=np.int64)  # 0: DC next, else AC index
    while len(lane):
        e = lut_all[
            sched[2 * b + (k > 0)] + ((w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF)
        ]
        ln = e & 31
        size = (e >> 5) & 31
        p = p + ln
        amp = (w32[p >> 3] >> (32 - size - (p & 7))) & ((1 << size) - 1)
        p += size
        pos = k + ((e >> 10) & 15)
        flat[(lane * nb + b) * 64 + np.minimum(pos, 63)] = np.where(
            amp < (1 << size) >> 1, amp - (1 << size) + 1, amp
        )
        bad = (ln == 0) | (p > end) | ((size > 0) & (pos > 63))
        k = pos + 1
        block_end = ((e >> 14) & 1).astype(bool) | (k >= 64)
        b += block_end
        k[block_end] = 0
        stop = bad | (b >= left)
        if stop.any():
            failed[lane[bad]] = True
            p_end[lane[stop]] = p[stop]
            go = ~stop
            lane, p, end, left, b, k = (
                x[go] for x in (lane, p, end, left, b, k)
            )
    # a segment before the last must end within its final byte, where
    # the next restart marker stands
    inner = np.tile(np.arange(n_seg) < n_seg - 1, len(decoded))
    failed |= inner & (seg_end - p_end >= 8)
    good = ~failed.reshape(len(decoded), n_seg).any(axis=1)

    coefs = flat.reshape(n_lanes, nb, 64)
    # DC values are differences: a running sum per component per lane
    # (each restart segment resets the predictors)
    block_comps = np.array(mcu_comps * per_seg)
    for ci in range(len(frame.comps)):
        cols = np.flatnonzero(block_comps == ci)
        coefs[:, cols, 0] = np.cumsum(coefs[:, cols, 0], axis=1)
    coefs = coefs.reshape(len(decoded), n_seg * nb, 64)[good]
    return decoded[good], coefs[:, : frame.n_blocks]


_JPEG_UNZIGZAG = np.argsort(_JPEG_ZIGZAG)


def _jpeg_idct(zz: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dequantize, un-zigzag and inverse-DCT a stack of blocks: (..., 64)
    quantized zigzag coefficients and their quantization table in,
    (..., 8, 8) level-shifted samples out.  One stacked
    ``a.T @ coef @ a``, bit-identical to the per-block 2-D matmul; an
    einsum is not (see _quantized_block_coefs)."""
    a = _dct_basis()
    coef = (zz * q)[..., _JPEG_UNZIGZAG].reshape(*zz.shape[:-1], 8, 8)
    return a.T @ coef @ a


def _jpeg_seq_pixels(frame: _SeqFrame, coefs: np.ndarray) -> np.ndarray:
    """The shared tail of the sequential decoders.  ``coefs`` holds n
    streams' quantized blocks of one frame, (n, n_blocks, 64) int64 in
    zigzag and scan order.  One stacked IDCT per component, its blocks
    laid out on the component plane, then one upsample and colour tail;
    returns (n, pixels) uint8."""
    n = len(coefs)
    my, mx = frame.mcus_y, frame.mcus_x
    units = coefs.reshape(n, my, mx, -1, 64)
    planes, at = [], 0
    for (_, hs, vs, _), q in zip(frame.comps, frame.quant):
        blocks = _jpeg_idct(units[:, :, :, at : at + hs * vs], q)
        at += hs * vs
        planes.append(
            blocks.reshape(n, my, mx, vs, hs, 8, 8)
            .transpose(0, 1, 3, 5, 2, 4, 6)
            .reshape(n, my * vs * 8, mx * hs * 8)
        )
    return _planes_to_pixels(
        planes, frame.comps, frame.hmax, frame.vmax, frame.h, frame.w
    )


def _planes_to_pixels(planes, comps, hmax, vmax, h, w) -> np.ndarray:
    """Shared decode tail (sequential + progressive): upsample subsampled
    components to the full canvas by pixel replication (nearest-neighbor
    — the spec-legal baseline upsampler; the exact inverse of the
    encoder's box average on per-2×2-constant chroma, which is what the
    analytic round-trip envelope relies on), crop to the true SOF dims,
    level-shift, and for color invert the YCbCr transform.  Planes may
    carry leading batch axes; each image comes out flat."""
    lead = planes[0].shape[:-2]
    out = []
    for plane, (_, hs, vs, _) in zip(planes, comps):
        if hs != hmax:
            plane = np.repeat(plane, hmax // hs, axis=-1)
        if vs != vmax:
            plane = np.repeat(plane, vmax // vs, axis=-2)
        out.append(np.clip(np.round(plane[..., :h, :w] + 128.0), 0, 255))
    if len(out) == 1:
        return out[0].astype(np.uint8).reshape(*lead, -1)
    y, cb, cr = out
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(np.round(c), 0, 255) for c in (r, g, b)], axis=-1
    )
    return rgb.astype(np.uint8).reshape(*lead, -1)


# ---------------------------------------------------------------------------
# progressive JPEG (SOF2, huffman): spectral selection + successive
# approximation, both directions — closes the last common real-media decode
# gap; the stub boundary is now mp4 + arithmetic JPEG + differential-DCT
# hierarchical frames (lossless SOF3 went real in round 8, hierarchical
# lossless pyramids in round 9)
# ---------------------------------------------------------------------------

def _true_block_grid(h, w, hs, vs, hmax, vmax) -> tuple[int, int]:
    """Per-component data-unit grid for NON-interleaved scans (T.81
    §A.2.2): component dims are ceil(dim·sampling/max), blocks are
    ceil(that/8) — smaller than the padded interleaved MCU grid."""
    cw = -(-w * hs // hmax)
    ch = -(-h * vs // vmax)
    return -(-ch // 8), -(-cw // 8)


def _quantized_block_coefs(
    planes: list[np.ndarray], q: np.ndarray,
) -> list[np.ndarray]:
    """FDCT + quantize every 8×8 block of each (n, ph, pw) MCU-padded
    plane stack; returns per-plane (n, bh, bw, 64) int64 arrays in ZIGZAG
    order — the one FDCT the sequential and progressive encoders share.

    One stacked ``a @ blocks @ a.T`` over every block gives the same bits
    as the per-block 2-D matmul (both run one BLAS product per 8×8 pair),
    which ``test_stacked_fdct_matches_per_block_matmul`` pins; an
    ``einsum`` form does NOT — it differs in the last ulp, which flips
    np.round at .5 boundaries and breaks the progressive==sequential
    bit-identity contract (caught by the golden round-trip test)."""
    a = _dct_basis()
    qmat = q[np.argsort(_JPEG_ZIGZAG)].reshape(8, 8)
    out = []
    for plane in planes:
        n, ph, pw = plane.shape
        bh, bw = ph // 8, pw // 8
        blocks = np.ascontiguousarray(
            plane.reshape(n, bh, 8, bw, 8).transpose(0, 1, 3, 2, 4)
        ) - 128.0
        qc = np.round((a @ blocks @ a.T) / qmat).astype(np.int64)
        out.append(qc.reshape(n, bh, bw, 64)[..., _JPEG_ZIGZAG])
    return out


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quant: np.ndarray | None = None,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    ac_bands: list[tuple[int, int]] | None = None,
) -> bytes:
    """Encode gray (h, w) or RGB (h, w, 3) uint8 pixels as a PROGRESSIVE
    JFIF JPEG (SOF2) using the canonical four-phase successive-
    approximation layout real encoders emit: interleaved DC-first at
    point transform Al=1, DC refinement (one raw bit per block), then per
    component an AC-first scan of the whole 1–63 band at Al=1 and an AC
    refinement scan (Ah=1→Al=0).  Every scan kind the huffman-progressive
    decoder must handle is therefore exercised by a round trip, and the
    accumulated coefficients are bit-identical to the sequential
    encoder's — so ``_decode_jpeg(progressive) == _decode_jpeg(baseline)``
    EXACTLY, which is the golden contract the tests pin.  EOB runs are
    emitted per-block (run length 1) so the stock Annex-K AC table
    suffices.  ``restart_interval`` > 0 declares one DRI segment and
    emits RSTm markers in EVERY scan, every that-many scan-MCUs
    (interleaved MCUs in the DC scans, single data units in the
    non-interleaved AC scans, T.81 §A.2.2) — markers byte-align, cycle
    0–7 per scan, and reset the DC predictors; no EOB run ever spans one
    (this encoder ends EOB runs per block).

    ``ac_bands`` splits the AC spectrum into multiple spectral-selection
    scans (default one 1–63 band — byte-identical to the pre-r8 output):
    each (Ss, Se) band gets its own AC-first and AC-refinement scan per
    component, the multi-band layout real encoders emit (e.g. IJG's
    default scan script uses 1–5 / 6–63).  Bands must partition 1..63
    contiguously so successive approximation still transmits every
    coefficient exactly and the progressive==sequential bit-identity
    contract holds for ANY band split."""
    ac_bands = list(ac_bands) if ac_bands is not None else [(1, 63)]
    want = 1
    for ss, se in ac_bands:
        if ss != want or se < ss or se > 63:
            raise ValueError(
                f"ac_bands must partition 1..63 contiguously, got {ac_bands}"
            )
        want = se + 1
    if want != 64:
        raise ValueError(
            f"ac_bands must cover the whole 1..63 spectrum, got {ac_bands}"
        )
    q = _jpeg_quant(quant)
    h, w, planes, sampling = _jpeg_prepare_planes(
        _jpeg_one(pixels), subsampling
    )
    n_comp = len(planes)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    hs0, vs0 = sampling[0]
    mcus_y = planes[0].shape[1] // (8 * vs0)
    mcus_x = planes[0].shape[2] // (8 * hs0)
    coefs = [c[0] for c in _quantized_block_coefs(planes, q)]
    dc_codes = _JPEG_DC_CODES_K
    ac_codes = _JPEG_AC_CODES_K

    def mcu_units():
        """Interleaved DC-scan order grouped by MCU (the unit restart
        intervals count): per MCU, vs×hs blocks per component (single
        component degenerates to its raster)."""
        for my in range(mcus_y):
            for mx in range(mcus_x):
                yield [
                    (ci, my * vs + byy, mx * hs + bxx)
                    for ci, (hs, vs) in enumerate(sampling)
                    for byy in range(vs)
                    for bxx in range(hs)
                ]

    def maybe_restart(bw, unit_i, on_restart=None):
        """Emit the RSTm due before scan-MCU ``unit_i`` (m cycling 0–7)
        and run the per-scan state reset."""
        if restart_interval and unit_i and unit_i % restart_interval == 0:
            bw.restart((unit_i // restart_interval - 1) & 7)
            if on_restart is not None:
                on_restart()

    scans: list[bytes] = []  # SOS segment, entropy bytes, SOS, …

    # scan 1: DC first, Al=1 (signed arithmetic shift per G.1.2.1)
    bw1 = _BufferedBitWriter()
    preds = [0] * n_comp

    def reset_preds():
        preds[:] = [0] * n_comp

    for unit_i, unit in enumerate(mcu_units()):
        maybe_restart(bw1, unit_i, reset_preds)
        for ci, by, bx in unit:
            dc = int(coefs[ci][by, bx, 0]) >> 1
            diff = dc - preds[ci]
            preds[ci] = dc
            size, amp = _jpeg_magnitude(diff)
            code, length = dc_codes[size]
            bw1.write(code, length)
            if size:
                bw1.write(amp, size)
    scans += [_jpeg_sos(range(1, n_comp + 1), 0, 0, 0, 1), bw1.flush()]

    # scan 2: DC refinement — the deferred low bit, raw, one per block
    bw2 = _BufferedBitWriter()
    for unit_i, unit in enumerate(mcu_units()):
        maybe_restart(bw2, unit_i)
        for ci, by, bx in unit:
            bw2.write(int(coefs[ci][by, bx, 0]) & 1, 1)
    scans += [_jpeg_sos(range(1, n_comp + 1), 0, 0, 1, 0), bw2.flush()]

    for ss, se in ac_bands:
        for ci in range(n_comp):
            hs, vs = sampling[ci]
            bh_t, bw_t = _true_block_grid(h, w, hs, vs, hmax, vmax)
            # AC first over [ss, se], Al=1 (magnitude shift);
            # non-interleaved scan ⇒ restart interval counts single blocks
            bwa = _BufferedBitWriter()
            blk_i = 0
            for by in range(bh_t):
                for bx in range(bw_t):
                    maybe_restart(bwa, blk_i)
                    blk_i += 1
                    zz = coefs[ci][by, bx]
                    run = 0
                    for k in range(ss, se + 1):
                        v = int(zz[k])
                        t = (abs(v) >> 1) * (1 if v > 0 else -1)
                        if t == 0:
                            run += 1
                            continue
                        while run > 15:
                            zc, zl = ac_codes[0xF0]
                            bwa.write(zc, zl)
                            run -= 16
                        size, amp = _jpeg_magnitude(t)
                        code, length = ac_codes[(run << 4) | size]
                        bwa.write(code, length)
                        bwa.write(amp, size)
                        run = 0
                    if run:
                        code, length = ac_codes[0x00]  # EOB, run of 1
                        bwa.write(code, length)
            scans += [_jpeg_sos([ci + 1], ss, se, 0, 1), bwa.flush()]

    for ss, se in ac_bands:
        for ci in range(n_comp):
            hs, vs = sampling[ci]
            bh_t, bw_t = _true_block_grid(h, w, hs, vs, hmax, vmax)
            # AC refinement over [ss, se], Ah=1→Al=0 (G.1.2.3 / the IJG
            # buffered-correction-bit algorithm; flush after every
            # symbol); pending bits never span blocks, so restarts are
            # state-clean
            bwr = _BufferedBitWriter()
            blk_i = 0
            for by in range(bh_t):
                for bx in range(bw_t):
                    maybe_restart(bwr, blk_i)
                    blk_i += 1
                    zz = coefs[ci][by, bx]
                    run = 0
                    pending: list[int] = []
                    for k in range(ss, se + 1):
                        v = int(zz[k])
                        av = abs(v)
                        if av == 0:
                            run += 1
                            continue
                        # Drain run > 15 at EVERY nonzero coefficient
                        # (IJG ordering), BEFORE the already-significant
                        # branch: a decoder's ZRL span covers exactly 16
                        # zero-history positions, so a correction bit
                        # buffered for a coefficient beyond that span and
                        # flushed after the ZRL would desynchronize the
                        # stream (review catch r7, executed repro:
                        # [16 zeros, |v|=2, …, |v|=1]).
                        while run > 15:
                            zc, zl = ac_codes[0xF0]
                            bwr.write(zc, zl)
                            for bit in pending:
                                bwr.write(bit, 1)
                            pending = []
                            run -= 16
                        if av > 1:  # already significant: correction
                            pending.append(av & 1)
                            continue
                        # newly significant (|v| == 1)
                        code, length = ac_codes[(run << 4) | 1]
                        bwr.write(code, length)
                        bwr.write(1 if v > 0 else 0, 1)
                        for bit in pending:
                            bwr.write(bit, 1)
                        pending = []
                        run = 0
                    if run or pending:
                        code, length = ac_codes[0x00]
                        bwr.write(code, length)
                        for bit in pending:
                            bwr.write(bit, 1)
            scans += [_jpeg_sos([ci + 1], ss, se, 1, 0), bwr.flush()]

    return _jpeg_stream(
        _jpeg_app(raw_rgb=False),
        _jpeg_dqt(q),
        _jpeg_sof(0xC2, h, w, sampling),
        _jpeg_dht(ac=True),
        _jpeg_dri(restart_interval),
        *scans,
    )


def _decode_jpeg_progressive(data: bytes) -> np.ndarray:
    """Huffman-progressive JPEG decode (SOF2): coefficients accumulate
    across scans — DC first/refinement (interleaved or single-component)
    and AC first/refinement per component with spectral selection (Ss–Se)
    and successive approximation (Ah/Al), EOB runs included — then one
    dequantize + IDCT pass at EOI.  Restart intervals (DRI/RSTm) are
    supported in every scan kind: the interval counts the scan's own MCUs
    (interleaved MCUs in a multi-component DC scan, single data units in
    non-interleaved scans, T.81 §A.2.2/§E.2.4), each marker byte-aligns,
    is cycle-checked 0–7, and resets the DC predictors and EOB run.
    Arithmetic-coded progressive (SOF10) never reaches here (refused at
    the marker walk)."""
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int, int]] = []
    h = w = None
    hmax = vmax = 1
    mcus_x = mcus_y = 0
    coefs: list[np.ndarray] = []
    preds_dc: list[int] = []
    restart_interval = 0
    got_scan = False
    # all 0xFF offsets once for every per-scan/per-restart-segment reader
    ff_abs = np.flatnonzero(np.frombuffer(data, dtype=np.uint8) == 0xFF)

    def next_marker(p):
        while p + 1 < len(data):
            if (
                data[p] == 0xFF
                and data[p + 1] != 0x00
                and not (0xD0 <= data[p + 1] <= 0xD7)
            ):
                return p
            p += 1
        return len(data)

    # a 2-byte tail: the walk must also read a marker cut short after its
    # first two bytes (and refuse it), as the reference decoder does
    walk = _JpegMarkers(data, tail=2)
    for marker, body in walk:
        if marker == 0xDD:
            restart_interval = _parse_dri(body)
        elif marker == 0xDB:
            _parse_dqt(body, qtables)
        elif marker == 0xC2:
            h, w, comps = _parse_sof(body)
            hmax, vmax, mcus_x, mcus_y, n_blocks = _jpeg_geometry(
                comps, h, w
            )
            # same untrusted-header guards as the sequential path, with
            # the payload floor relaxed to 1 bit/block (the DC-first scan
            # alone costs that much)
            if n_blocks * 64 > 268_435_456:
                raise ValueError("JPEG dimensions exceed decode cap")
            if n_blocks > max(0, len(data) - walk.start) * 8 + 64:
                raise ValueError("JPEG scan too short for declared dims")
            coefs = [
                np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int64)
                for _, hs, vs, _ in comps
            ]
            preds_dc = [0] * len(comps)
        elif marker == 0xC4:
            _parse_dht(body, htables)
        elif marker == 0xDA:
            if not comps:
                raise ValueError("JPEG scan before SOF")
            sos_comps, ss, se, ah, al = _parse_sos(body)
            ns = len(sos_comps)
            index = {c[0]: i for i, c in enumerate(comps)}
            if any(cid not in index for cid, _, _ in sos_comps):
                raise ValueError("JPEG scan names a component the frame lacks")
            scom = [(index[cid], td, ta) for cid, td, ta in sos_comps]
            if ss > se or se > 63 or al > 13:
                raise ValueError("bad progressive scan parameters")
            # Table-driven fast reads over preprocessed _FastBits segments
            # (§4.2) — the same LUT treatment the baseline/lossless
            # decoders got in r11; per-bit reader calls were ~90 % of
            # progressive decode time.  Prefix-freeness makes the LUT walk
            # exactly equivalent to the per-bit _BitReader/_read_huff_sym
            # reference in tests/ref_bitio.py; a differential test
            # pins this decoder against the verbatim pre-r12 form
            # (including truncation and bit-flip refusal parity).
            fbr = _FastBits(data, walk.pos, ff_abs)
            words, navail = fbr.words, fbr.nbits
            p = 0

            def sync_restart(unit_i):
                """Byte-align at the segment's terminating RSTm, verify
                the 0–7 cycle (T.81 §E.2.4), re-anchor the reader on the
                next segment — the _FastBits replay of the old
                ``restart_sync`` (marker must stand exactly where the bit
                cursor does, pad bits discarded)."""
                nonlocal fbr, words, navail, p
                fbr.pos = p
                if (
                    fbr.term is None
                    or not 0xD0 <= fbr.term <= 0xD7
                    or fbr.orig_pos() != fbr.term_pos
                ):
                    raise ValueError("missing JPEG restart marker")
                if (fbr.term & 0x07) != (
                    unit_i // restart_interval - 1
                ) & 0x07:
                    raise ValueError("JPEG restart marker out of sequence")
                fbr = _FastBits(data, fbr.term_pos + 2, ff_abs)
                words, navail = fbr.words, fbr.nbits
                p = 0

            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan with nonzero Se")
                # One entry per SCAN MCU: a multi-component DC scan is
                # interleaved (vs×hs blocks per component per MCU); a
                # single-component scan's MCU is one data unit (§A.2.2).
                # Restart intervals count these units.
                if ns == len(comps) and ns > 1:
                    units = [
                        [
                            (
                                ci,
                                my * comps[ci][2] + byy,
                                mx * comps[ci][1] + bxx,
                            )
                            for ci, _, _ in scom
                            for byy in range(comps[ci][2])
                            for bxx in range(comps[ci][1])
                        ]
                        for my in range(mcus_y)
                        for mx in range(mcus_x)
                    ]
                else:
                    if ns != 1:
                        raise ValueError("partial multi-component DC scan")
                    ci0 = scom[0][0]
                    bh_t, bw_t = _true_block_grid(
                        h, w, comps[ci0][1], comps[ci0][2], hmax, vmax
                    )
                    units = [
                        [(ci0, by, bx)]
                        for by in range(bh_t)
                        for bx in range(bw_t)
                    ]
                dcluts = {
                    ci: (
                        _huff_lut(htables[(0, dc)])
                        if (0, dc) in htables
                        else None
                    )
                    for ci, dc, _ in scom
                }
                p1 = 1 << al
                unit_i = 0
                for unit in units:
                    if (
                        restart_interval
                        and unit_i
                        and unit_i % restart_interval == 0
                    ):
                        sync_restart(unit_i)
                        preds_dc = [0] * len(comps)
                    unit_i += 1
                    for ci, by, bx in unit:
                        if ah == 0:
                            lut = dcluts[ci]
                            if lut is None:
                                raise ValueError("missing DC huffman table")
                            dsyms, dlens, dl = lut
                            idx = (
                                (words[p >> 3] >> (16 - (p & 7))) & 0xFFFF
                            ) >> (16 - dl)
                            ln = dlens[idx]
                            if ln == 0 or p + ln > navail:
                                raise ValueError("bad huffman code")
                            p += ln
                            size = dsyms[idx]
                            if p + size > navail:
                                raise ValueError("unexpected end of JPEG scan")
                            amp = (
                                words[p >> 3] >> (32 - size - (p & 7))
                            ) & ((1 << size) - 1)
                            p += size
                            preds_dc[ci] += _jpeg_extend(amp, size)
                            coefs[ci][by, bx, 0] = preds_dc[ci] << al
                        else:
                            if p >= navail:
                                raise ValueError("unexpected end of JPEG scan")
                            if (words[p >> 3] >> (31 - (p & 7))) & 1:
                                coefs[ci][by, bx, 0] |= p1
                            p += 1
            else:
                if ns != 1:
                    raise ValueError("interleaved AC scan is illegal")
                ci0, _, ac_t = scom[0]
                tab = htables.get((1, ac_t))
                if tab is None:
                    raise ValueError("missing AC huffman table")
                asyms, alens, aL = _huff_lut(tab)
                bh_t, bw_t = _true_block_grid(
                    h, w, comps[ci0][1], comps[ci0][2], hmax, vmax
                )
                eobrun = 0
                p1, m1 = 1 << al, -1 << al
                blk_i = 0
                for by in range(bh_t):
                    for bx in range(bw_t):
                        if (
                            restart_interval
                            and blk_i
                            and blk_i % restart_interval == 0
                        ):
                            # non-interleaved scan: MCU = one data unit;
                            # restart resets the EOB run (a conformant
                            # encoder never lets one span the marker)
                            sync_restart(blk_i)
                            eobrun = 0
                        blk_i += 1
                        zz = coefs[ci0][by, bx]
                        if ah == 0:
                            if eobrun > 0:
                                eobrun -= 1
                                continue
                            k = ss
                            while k <= se:
                                idx = (
                                    (words[p >> 3] >> (16 - (p & 7)))
                                    & 0xFFFF
                                ) >> (16 - aL)
                                ln = alens[idx]
                                if ln == 0 or p + ln > navail:
                                    raise ValueError("bad huffman code")
                                p += ln
                                sym = asyms[idx]
                                r, s = sym >> 4, sym & 0x0F
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    eobrun = (1 << r) - 1
                                    if r:
                                        if p + r > navail:
                                            raise ValueError(
                                                "unexpected end of JPEG scan"
                                            )
                                        eobrun += (
                                            words[p >> 3]
                                            >> (32 - r - (p & 7))
                                        ) & ((1 << r) - 1)
                                        p += r
                                    break
                                k += r
                                if k > se:
                                    raise ValueError("AC run past band end")
                                if p + s > navail:
                                    raise ValueError(
                                        "unexpected end of JPEG scan"
                                    )
                                amp = (
                                    words[p >> 3] >> (32 - s - (p & 7))
                                ) & ((1 << s) - 1)
                                p += s
                                zz[k] = _jpeg_extend(amp, s) << al
                                k += 1
                        else:
                            k = ss
                            if eobrun == 0:
                                while k <= se:
                                    idx = (
                                        (words[p >> 3] >> (16 - (p & 7)))
                                        & 0xFFFF
                                    ) >> (16 - aL)
                                    ln = alens[idx]
                                    if ln == 0 or p + ln > navail:
                                        raise ValueError("bad huffman code")
                                    p += ln
                                    sym = asyms[idx]
                                    r, s = sym >> 4, sym & 0x0F
                                    if s:
                                        if s != 1:
                                            raise ValueError(
                                                "bad refinement symbol"
                                            )
                                        if p >= navail:
                                            raise ValueError(
                                                "unexpected end of JPEG scan"
                                            )
                                        val = (
                                            p1
                                            if (
                                                words[p >> 3]
                                                >> (31 - (p & 7))
                                            )
                                            & 1
                                            else m1
                                        )
                                        p += 1
                                    else:
                                        if r != 15:
                                            eobrun = 1 << r
                                            if r:
                                                if p + r > navail:
                                                    raise ValueError(
                                                        "unexpected end of"
                                                        " JPEG scan"
                                                    )
                                                eobrun += (
                                                    words[p >> 3]
                                                    >> (32 - r - (p & 7))
                                                ) & ((1 << r) - 1)
                                                p += r
                                            break
                                        val = 0
                                    while k <= se:
                                        c = int(zz[k])
                                        if c != 0:
                                            if p >= navail:
                                                raise ValueError(
                                                    "unexpected end of"
                                                    " JPEG scan"
                                                )
                                            bit = (
                                                words[p >> 3]
                                                >> (31 - (p & 7))
                                            ) & 1
                                            p += 1
                                            if bit and not (c & p1):
                                                zz[k] = c + (
                                                    p1 if c >= 0 else m1
                                                )
                                        else:
                                            r -= 1
                                            if r < 0:
                                                break
                                        k += 1
                                    if val and k <= se:
                                        zz[k] = val
                                    k += 1
                            if eobrun > 0:
                                while k <= se:
                                    c = int(zz[k])
                                    if c != 0:
                                        if p >= navail:
                                            raise ValueError(
                                                "unexpected end of JPEG scan"
                                            )
                                        bit = (
                                            words[p >> 3] >> (31 - (p & 7))
                                        ) & 1
                                        p += 1
                                        if bit and not (c & p1):
                                            zz[k] = c + (p1 if c >= 0 else m1)
                                    k += 1
                                eobrun -= 1
            got_scan = True
            fbr.pos = p
            walk.pos = next_marker(fbr.orig_pos())
    if h is None or not got_scan or not coefs:
        raise ValueError("JPEG missing SOF/SOS")
    planes = []
    # The sequential decoders' stacked IDCT: the same bits, which the
    # progressive==sequential bit-identity contract relies on.
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("missing quantization table")
        bh, bw = coefs[ci].shape[:2]
        planes.append(
            _jpeg_idct(coefs[ci], qtables[tq])
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
    return _planes_to_pixels(planes, comps, hmax, vmax, h, w)


def _roundtrip_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    shape: tuple[int, ...],
    size_col: str,
    checks: tuple[str, ...],
    batch_fn: Callable[[np.ndarray], list[tuple[bool, ...]]],
) -> DataFrame:
    """The frame every ``*_roundtrip_audit`` codec contract shares.  Rows
    whose ``text_col`` has fewer than ``n`` utf-8 bytes are dropped (the
    callers' oracles apply the same predicate).  Each remaining row's
    first ``n`` bytes become a uint8 array of ``shape``, and each Arrow
    batch hands ``batch_fn`` its rows as one (rows, *shape) stack.  Every
    row yields ``doc_id``, ``size_col`` (= ``n``) and one boolean column
    per name in ``checks``, filled in order from its tuple in
    ``batch_fn(raws)``: one tuple per row, not one function per column,
    since most audits test several properties of one encode/decode."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = [int(i) for i in pdf["_id"]]
            raws = np.frombuffer(
                b"".join(str(t).encode("utf-8")[:n] for t in pdf["_text"]),
                dtype=np.uint8,
            ).reshape(len(ids), *shape)
            flags = batch_fn(raws)
            cols = {"doc_id": ids, size_col: [n] * len(ids)}
            for name, col in zip(checks, zip(*flags)):
                cols[name] = [bool(v) for v in col]
            yield pd.DataFrame(cols)

    # The codec is CPU-bound per row, so parallelism must not be capped by
    # the SOURCE layout (a small parquet arrives as one partition and one
    # task would run every round trip serially — measured 4.4 s vs 1.2 s
    # warm at sf0.1).  The repartition shuffle moves only (id, text)
    # rows and is dwarfed by the per-row codec work it spreads out; at
    # 100 TB the scan is already wide and AQE coalesces the excess.
    width = df.sparkSession.sparkContext.defaultParallelism
    schema = ", ".join(
        [f"doc_id long, {size_col} long"] + [f"{c} boolean" for c in checks]
    )
    return (
        df.filter(F.octet_length(F.col(text_col)) >= n)
        .select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
        .repartition(width)
        .mapInPandas(fn, schema)
    )


def _is_jfif(payload: bytes) -> bool:
    return payload[:2] == b"\xff\xd8" and payload[6:10] == b"JFIF"


def _max_err_le_3(dec: np.ndarray, ref: np.ndarray) -> bool:
    """The certified Q=1 envelope of the lossy JPEG audits (derivation in
    :func:`jpeg_roundtrip_audit`): max |decoded − original| ≤ 3."""
    d = dec.astype(np.int64).reshape(ref.shape) - ref.astype(np.int64)
    return int(np.abs(d).max()) <= 3


def _audit_rgb(raw: np.ndarray) -> np.ndarray:
    """RGB derivative of a square audit image, deterministic from the text
    alone: channel 0 = the bytes, 1 = a rolled copy, 2 = the complement."""
    rolled = np.roll(raw.reshape(-1), 7).reshape(raw.shape)
    return np.stack([raw, rolled, 255 - raw], axis=-1)


def jpeg_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """Per-row baseline-JPEG encode→decode round-trip audit: each row's
    first ``side²`` utf-8 bytes become a (side, side) grayscale image,
    ride a real ``encode_jpeg_gray8`` → ``_decode_jpeg`` round trip
    (all-ones quantization), and the output states the properties a
    correct codec must satisfy — JFIF container magic and
    max |decoded − original| ≤ 3, the CERTIFIED Q=1 envelope: each
    quantized coefficient carries ≤ 0.5 rounding error, the IDCT
    amplifies a worst-case coefficient-error block by at most
    0.5·(max column abs-sum of Aᵀ)² = 3.49 per pixel, and the final
    integer rounding adds ≤ 0.5 — so an integer deviation of 4+ is
    impossible for a CORRECT codec but typical for a broken one (a
    huffman-table slip or IDCT scale error lands far outside).  The
    sf1.0 ladder is why the bound is the analytic envelope and not the
    empirical max: 29212 of 29213 corpus docs round-trip at |Δ| ≤ 1, and
    exactly one reaches 2.  Rows with fewer than ``side²`` bytes are
    filtered out (the caller's oracle applies the same predicate).

    Scale: a pure Arrow-batched ``mapInPandas`` — no shuffle, constant
    memory per batch.  Each Arrow batch is encoded in one vectorized call
    (``_encode_jpeg_batch``, whose batch of one is ``encode_jpeg_gray8``)
    and decoded in one ``_decode_jpeg_batch`` call, which returns
    exactly the per-stream ``_decode_jpeg`` results.  At 100 TB this
    Python baseline swaps for a codec library via the pinned
    ``_decode_bytes`` boundary.
    """

    def row(payload, decoded, raw):
        return _is_jfif(payload), _max_err_le_3(decoded, raw)

    def check(raws):
        payloads = _encode_jpeg_batch(raws)
        return list(map(row, payloads, _decode_jpeg_batch(payloads), raws))

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("is_jfif", "max_err_le_3"), check,
    )


def jpeg420_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """4:2:0-subsampled color JPEG round-trip audit — the sibling of
    :func:`jpeg_roundtrip_audit` that exercises the interleaved-MCU and
    chroma down/upsample paths (the layout virtually all real JPEGs use).

    Each qualifying row's first ``side²`` utf-8 bytes become a gray
    (side, side) image replicated into RGB, ride a real
    ``encode_jpeg_rgb24(subsampling="4:2:0")`` → ``_decode_jpeg`` round
    trip (all-ones quantization), and the output states the CERTIFIED
    properties: JFIF magic, the SOF0 luma sampling byte is 0x22 (so the
    payload genuinely is 4:2:0 — a silent 4:4:4 fallback fails here),
    and max |decoded − original| ≤ 3 per RGB sample.  The envelope is
    analytic, not empirical (sf1.0-ladder rule): gray input makes both
    chroma planes exactly constant 128 (the YCbCr forward coefficients
    cancel to < 1e-13, box-averaging preserves a constant, and the DCT of
    a constant level-shifted-to-0 plane quantizes to all zeros), so
    decoded Cb = Cr = 128 exactly and the color transform returns the Y
    sample untouched; the Y path then carries the same certified Q=1
    budget as the grayscale contract — coefficient rounding ≤ 0.5 ×
    IDCT gain 3.49 + final rounding 0.5 < 4, i.e. an integer deviation
    of 4+ is impossible for a correct codec.  An MCU-order slip, a
    swapped chroma block, or a broken upsampler lands far outside.
    Each Arrow batch is encoded in one ``_encode_jpeg_batch`` call and
    decoded in one ``_decode_jpeg_batch`` call."""

    def row(payload, decoded, rgb):
        sof_at = payload.find(b"\xff\xc0")
        return (
            _is_jfif(payload),
            sof_at >= 0 and payload[sof_at + 11] == 0x22,
            _max_err_le_3(decoded, rgb),
        )

    def check(raws):
        rgbs = np.repeat(raws[..., None], 3, axis=3)
        payloads = _encode_jpeg_batch(rgbs, subsampling="4:2:0")
        return list(map(row, payloads, _decode_jpeg_batch(payloads), rgbs))

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("is_jfif", "sof_is_420", "max_err_le_3"), check,
    )


def jpeg_restart_roundtrip_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    side: int = 16,
    restart_interval: int = 2,
) -> DataFrame:
    """Restart-interval JPEG round-trip audit — the third codec-contract
    sibling, exercising the DRI/RSTm path (the resynchronization layout
    most camera and ffmpeg baseline JPEGs carry, and the unit a parallel
    decoder splits a scan on).

    Each qualifying row's first ``side²`` utf-8 bytes become a gray
    (side, side) image and ride a real
    ``encode_jpeg_gray8(restart_interval=…)`` → ``_decode_jpeg`` round
    trip (all-ones quantization).  Output states the certified
    properties: JFIF magic; the stream GENUINELY restarts
    (``has_restarts`` requires both a DRI segment before SOS and at least
    one RSTm marker inside the scan — a silent no-restart fallback fails
    here); and max |Δ| ≤ 3, the same analytic Q=1 grayscale envelope as
    :func:`jpeg_roundtrip_audit` — restart markers only byte-align and
    reset DC predictors, they add no quantization term, so the bound
    carries over unchanged.  A predictor that fails to reset, a marker
    cycle slip, or a byte-alignment bug lands far outside (the DC error
    alone shifts whole blocks).

    Scale: pure Arrow-batched ``mapInPandas`` behind an explicit
    repartition — same shape as the other codec audits, each Arrow batch
    encoded in one ``_encode_jpeg_batch`` call and decoded in one
    ``_decode_jpeg_batch`` call (one lane per restart segment)."""

    def row(payload, decoded, raw):
        sos = payload.find(b"\xff\xda")
        scan = payload[sos:]
        return (
            _is_jfif(payload),
            b"\xff\xdd" in payload[:sos]
            and any(bytes([0xFF, 0xD0 + m]) in scan for m in range(8)),
            _max_err_le_3(decoded, raw),
        )

    def check(raws):
        payloads = _encode_jpeg_batch(raws, restart_interval=restart_interval)
        return list(map(row, payloads, _decode_jpeg_batch(payloads), raws))

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("is_jfif", "has_restarts", "max_err_le_3"), check,
    )


def jpeg_progressive_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """Progressive-JPEG codec contract — the fourth codec-audit sibling,
    exercising the SOF2 multi-scan path (DC first/refine + per-component
    AC first/refine with successive approximation, the scan layout real
    progressive encoders emit).

    Each qualifying row's first ``side²`` utf-8 bytes become a gray
    (side, side) image encoded BOTH ways: ``encode_jpeg_progressive``
    and ``encode_jpeg_gray8`` (same all-ones quantization).  The output
    states the strongest property a progressive decoder can promise:
    ``matches_sequential`` — the progressive decode is BIT-IDENTICAL to
    the sequential decode, because successive approximation transmits
    every quantized coefficient exactly ((v>>1)<<1 | v&1 == v), so any
    scan-ordering, EOB-run, or refinement bug breaks equality outright —
    plus the SOF2 marker check and the |Δ| ≤ 3 envelope inherited from
    the sequential contract.  Scale: pure Arrow-batched ``mapInPandas``
    behind an explicit repartition, same as the other codec audits.  Each
    progressive stream is encoded and decoded on its own; the sequential
    reference of a batch is one ``_encode_jpeg_batch`` call (the bytes
    of ``encode_jpeg_gray8``) and one ``_decode_jpeg_batch`` call."""

    def row(raw, sequential):
        prog = encode_jpeg_progressive(raw)
        dec_p = _decode_jpeg(prog)
        return (
            0 <= prog.find(b"\xff\xc2") < prog.find(b"\xff\xda"),
            np.array_equal(dec_p, sequential),
            _max_err_le_3(dec_p, raw),
        )

    def check(raws):
        sequential = _decode_jpeg_batch(_encode_jpeg_batch(raws))
        return list(map(row, raws, sequential))

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("is_sof2", "matches_sequential", "max_err_le_3"), check,
    )


# ---------------------------------------------------------------------------
# lossless JPEG (SOF3, huffman): T.81 Annex H predictive coding — the only
# JPEG process with EXACT pixel round-trips; common in DICOM/archival
# corpora.  Closes the 'lossless' third of the r7 refusal set; round 9's
# Annex-J pyramids then retired 'hierarchical/differential lossless', so
# the stub boundary is now mp4 + arithmetic JPEG + differential-DCT
# hierarchical frames (SOF5/SOF6).
# ---------------------------------------------------------------------------

# T.81 H.1.2.1 predictor formulas, indexed by the 1-7 selector.  Written
# over plain ints AND numpy arrays alike (>> is arithmetic/floor in both),
# shared by the vectorized encoder prep and the sequential decode loop.
_LOSSLESS_PREDICTORS = {
    1: lambda a, b, c: a,
    2: lambda a, b, c: b,
    3: lambda a, b, c: c,
    4: lambda a, b, c: a + b - c,
    5: lambda a, b, c: a + ((b - c) >> 1),
    6: lambda a, b, c: b + ((a - c) >> 1),
    7: lambda a, b, c: (a + b) >> 1,
}


def _lossless_residuals(
    planes: list[np.ndarray], predictor: int
) -> list[np.ndarray]:
    """Vectorized Annex-H prediction residuals for int32 sample planes:
    lossless prediction reads the ORIGINAL neighbor samples
    (reconstruction is exact, so encoder and decoder see identical
    neighborhoods).  First line predicts from the left neighbor, later
    line-starts from above, the first sample from 2^(P-Pt-1) = 128
    (H.1.1).  Shared by the standalone SOF3 encoder and the hierarchical
    pyramid's initial frame."""
    h, w = planes[0].shape
    diffs = []
    for p in planes:
        pred = np.empty((h, w), dtype=np.int32)
        pred[0, 0] = 128  # 2^(P - Pt - 1), P=8, Pt=0
        if w > 1:
            pred[0, 1:] = p[0, :-1]          # first line: predictor 1 (a)
        if h > 1:
            pred[1:, 0] = p[:-1, 0]          # line starts: predictor 2 (b)
        if h > 1 and w > 1:
            a = p[1:, :-1]
            b = p[:-1, 1:]
            c = p[:-1, :-1]
            # evaluate ONLY the selected predictor (a dict literal would
            # materialize all 7 full-plane arrays — review catch r8)
            pred[1:, 1:] = _LOSSLESS_PREDICTORS[predictor](a, b, c)
        diffs.append(p - pred)
    return diffs


def _lossless_planes(
    pixels: np.ndarray, predictor: int, encoder: str
) -> list[np.ndarray]:
    """Input prep shared by the two lossless encoders: predictor range
    check, 1-D promotion, one int32 plane per channel (gray or R,G,B)."""
    if not 1 <= int(predictor) <= 7:
        raise ValueError(f"bad lossless predictor {predictor}")
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 1:
        px = px[None, :]
    if px.ndim == 2:
        return [px.astype(np.int32)]
    if px.ndim == 3 and px.shape[2] == 3:
        return [px[..., ch].astype(np.int32) for ch in range(3)]
    raise ValueError(f"{encoder} expects (h,w) or (h,w,3)")


def _lossless_scan(diffs: list[np.ndarray], ss: int) -> bytes:
    """One interleaved lossless scan over every component: SOS (``ss`` =
    the predictor, 0 in differential frames) and the residuals coded
    with the Annex-K DC table — vectorized, bit-identical to the
    per-sample reference _BitWriter loop in tests/ref_bitio.py (§4.2)."""
    return _jpeg_sos(range(1, len(diffs) + 1), ss, 0) + _lossless_scan_bits(
        diffs, _JPEG_DC_CODES_K
    )


def encode_jpeg_lossless(pixels: np.ndarray, predictor: int = 4) -> bytes:
    """Encode gray (h, w) or RGB (h, w, 3) uint8 pixels as a LOSSLESS
    JPEG (SOF3, huffman, T.81 Annex H): each sample's prediction residual
    (one of the 7 spec predictors, default 4 = a+b-c) is huffman-coded as
    an SSSS category + amplitude bits — the DC-difference convention, so
    the stock Annex-K DC table suffices (8-bit residuals span categories
    0–9).  No DCT, no quantization: ``_decode_jpeg`` reconstructs the
    EXACT input bytes, pinned by the golden tests and the
    ``jpeg_lossless_contract`` registry query.  First row predicts from
    the left neighbor, later row-starts from above, the first sample
    from 2^(P-1) = 128 (H.1.1); color encodes R,G,B as three interleaved
    1×1 components (no YCbCr — losslessness is the point), declared via an
    Adobe APP14 transform=0 segment so external decoders don't apply the
    JFIF-mandated YCbCr conversion (grayscale keeps JFIF APP0, where it is
    accurate).  Restart intervals and point transforms are not emitted
    (and the decoder refuses them — untested paths refuse to the stub)."""
    planes = _lossless_planes(pixels, predictor, "encode_jpeg_lossless")
    h, w = planes[0].shape
    return _jpeg_stream(
        _jpeg_app(raw_rgb=len(planes) == 3),
        _jpeg_sof(0xC3, h, w, [(1, 1)] * len(planes)),
        _jpeg_dht(ac=False),
        _lossless_scan(
            _lossless_residuals(planes, int(predictor)), int(predictor)
        ),
    )


def _lossless_entropy_scan(
    data: bytes,
    pos: int,
    h: int,
    w: int,
    tabs: list[dict],
    predictor: int,
    refs: list[np.ndarray] | None = None,
) -> tuple[list[np.ndarray], int]:
    """Decode ONE interleaved 1×1-sampling lossless entropy scan starting
    at byte ``pos`` of ``data`` into int32 planes — every SOF3 and SOF7
    frame ``_decode_jpeg_lossless_frames`` decodes.  Returns
    ``(planes, end_pos)``: ``end_pos`` is the stuffed byte offset just
    past the bytes the scan consumed, where that decoder resumes its
    marker walk.  ``predictor`` in 1–7
    runs the Annex-H neighbor prediction (first line / line-start rules
    per H.1.1); ``predictor == 0`` is the DIFFERENTIAL form (T.81 Annex
    J): no spatial prediction — each decoded difference adds to the
    ``refs`` reference component, modulo 2^16 (J.1.1.4)."""
    n_comp = len(tabs)
    # ---- 1. huffman-decode every residual (flat, interleaved order) ----
    # table-driven fast scan: one LUT lookup per symbol over a
    # preprocessed unstuffed segment instead of ~length bit() calls
    # (§4.2); prefix-freeness makes the LUT walk exactly equivalent to
    # the per-bit _read_huff_sym reference in tests/ref_bitio.py, and
    # _FastBits.orig_pos restores the byte cursor the hierarchical
    # scan-to-scan walk needs.
    fb = _FastBits(data, pos)
    words, nbits_total = fb.words, fb.nbits
    luts = [_huff_lut(t) for t in tabs]
    n = h * w
    res = [0] * (n * n_comp)
    p = 0
    i = 0
    for _ in range(n):
        for syms, lens, max_len in luts:
            win = (words[p >> 3] >> (16 - (p & 7))) & 0xFFFF
            idx = win >> (16 - max_len)
            ln = lens[idx]
            if ln == 0 or p + ln > nbits_total:
                raise ValueError("bad huffman code")
            p += ln
            size = syms[idx]
            if size == 16:  # 16-bit-precision special case (H.1.2.2)
                res[i] = 32768
            elif size:
                if p + size > nbits_total:
                    raise ValueError(
                        "unexpected marker in lossless scan"
                    )
                amp = (words[p >> 3] >> (32 - size - (p & 7))) & (
                    (1 << size) - 1
                )
                p += size
                res[i] = (
                    amp
                    if amp >= (1 << (size - 1))
                    else amp - (1 << size) + 1
                )
            i += 1
    fb.pos = p
    end_pos = fb.orig_pos()
    d3 = np.array(res, dtype=np.int64).reshape(n, n_comp)
    # ---- 2. reconstruct each plane from its residual grid ----------------
    # mod-2^16 adds are associative, so every predictor whose recurrence
    # is LINEAR in earlier samples (0,1,2,3,4) reconstructs with int64
    # cumsums masked once at the end; 5 masks per row (its >>1 reads
    # masked prior-row values but is row-linear); 6 and 7 shift the
    # in-row neighbor and stay per-sample.  Bit-identical to the
    # per-sample loop by construction (pinned by the kernel tests).
    planes = []
    for ci in range(n_comp):
        dd = d3[:, ci].reshape(h, w)
        if predictor == 0:
            grid = (refs[ci].astype(np.int64) + dd) & 0xFFFF
        elif predictor == 1:  # a: col-0 chain seeds per-row cumsum
            grid = dd.copy()
            grid[0, 0] += 128
            grid[:, 0] = np.cumsum(grid[:, 0])
            grid = np.cumsum(grid, axis=1) & 0xFFFF
        elif predictor == 2:  # b: row-0 chain seeds per-col cumsum
            grid = dd.copy()
            grid[0, 0] += 128
            grid[0, :] = np.cumsum(grid[0, :])
            grid = np.cumsum(grid, axis=0) & 0xFFFF
        elif predictor == 4:  # a + b - c: 2-D prefix sum
            grid = dd.copy()
            grid[0, 0] += 128
            grid = np.cumsum(np.cumsum(grid, axis=0), axis=1) & 0xFFFF
        elif predictor == 3:  # c: per-row diagonal shift
            grid = np.empty((h, w), dtype=np.int64)
            grid[0] = 128 + np.cumsum(dd[0])
            for y in range(1, h):
                grid[y, 0] = grid[y - 1, 0] + dd[y, 0]
                if w > 1:
                    grid[y, 1:] = grid[y - 1, :-1] + dd[y, 1:]
            grid &= 0xFFFF
        elif predictor == 5:  # a + ((b - c) >> 1): row-linear cumsum
            grid = np.empty((h, w), dtype=np.int64)
            grid[0] = (128 + np.cumsum(dd[0])) & 0xFFFF
            for y in range(1, h):
                prev = grid[y - 1]
                row = np.empty(w, dtype=np.int64)
                row[0] = prev[0] + dd[y, 0]
                if w > 1:
                    t = (prev[1:] - prev[:-1]) >> 1
                    row[1:] = row[0] + np.cumsum(t + dd[y, 1:])
                grid[y] = row & 0xFFFF
        else:  # 6: b + ((a - c) >> 1), 7: (a + b) >> 1 — in-row shifts
            rows = [
                ((128 + np.cumsum(dd[0])) & 0xFFFF).tolist()
            ]
            for y in range(1, h):
                prev = rows[-1]
                drow = dd[y].tolist()
                cur = [(prev[0] + drow[0]) & 0xFFFF]
                if predictor == 6:
                    for x in range(1, w):
                        cur.append(
                            (
                                prev[x]
                                + ((cur[x - 1] - prev[x - 1]) >> 1)
                                + drow[x]
                            )
                            & 0xFFFF
                        )
                else:
                    for x in range(1, w):
                        cur.append(
                            (((cur[x - 1] + prev[x]) >> 1) + drow[x])
                            & 0xFFFF
                        )
                rows.append(cur)
            grid = np.array(rows, dtype=np.int64)
        planes.append(grid.astype(np.int32))
    return planes, end_pos


# ---------------------------------------------------------------------------
# hierarchical JPEG (T.81 Annex J, huffman lossless pyramid): DHP + a
# non-differential SOF3 frame at the coarsest resolution + EXP-expanded
# SOF7 differential frames back up to full size.  The final differential
# frame corrects the reference to the EXACT input, so round-trips are
# byte-exact by construction — the property that makes the whole path
# offline-verifiable (same falsifiability standard that keeps arithmetic
# coding refused).  Shrinks the refusal set to mp4 + arithmetic +
# differential-DCT hierarchical frames (SOF5/SOF6, which this repo has no
# encoder for — untested paths refuse to the stub).
# ---------------------------------------------------------------------------

def _hier_downsample(p: np.ndarray) -> np.ndarray:
    """2×2 mean (round half up) to ceil-half dims, edge-replicated on odd
    boundaries.  T.81 Annex J deliberately does NOT standardize the
    downsampling filter (only the upsampler, J.1.1.2, is normative) — any
    deterministic choice interoperates because differential frames code
    against the SPEC-defined expansion of whatever the coarse frame
    decoded to."""
    h, w = p.shape
    hh, ww = -(-h // 2), -(-w // 2)
    pe = np.pad(p, ((0, hh * 2 - h), (0, ww * 2 - w)), mode="edge")
    s = pe[0::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 0::2] + pe[1::2, 1::2]
    return (s + 2) >> 2


def _hier_expand(p: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Reference-component expansion by 2 in both dimensions per T.81
    J.1.1.2 — the NORMATIVE bilinear interpolator both codecs must share:
    even outputs copy the reference, odd outputs are (Ra + Rb + 1) >> 1
    of the bracketing samples (edge-replicated at the last row/column),
    horizontal pass first, vertical pass over the expanded rows.  The
    doubled grid is trimmed to the target frame dims (one extra
    row/column when the target dimension is odd)."""
    out = np.empty((p.shape[0], 2 * p.shape[1]), dtype=np.int32)
    out[:, 0::2] = p
    right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
    out[:, 1::2] = (p + right + 1) >> 1
    full = np.empty((2 * p.shape[0], out.shape[1]), dtype=np.int32)
    full[0::2, :] = out
    down = np.concatenate([out[1:, :], out[-1:, :]], axis=0)
    full[1::2, :] = (out + down + 1) >> 1
    if th > full.shape[0] or tw > full.shape[1]:
        raise ValueError("EXP target dims exceed doubled reference")
    return full[:th, :tw]


def encode_jpeg_hierarchical(
    pixels: np.ndarray, levels: int = 2, predictor: int = 4
) -> bytes:
    """Encode gray (h, w) or RGB (h, w, 3) uint8 pixels as a HIERARCHICAL
    JPEG (T.81 Annex J, huffman lossless): a DHP segment declares the
    full dims, the coarsest pyramid level (ceil-halved ``levels - 1``
    times) is coded as a normal non-differential SOF3 frame, then each
    finer level is an EXP marker (expand reference 2× both ways,
    J.1.1.2) followed by an SOF7 differential frame whose scan codes
    sample − expanded-reference with the DC-difference huffman
    convention (Ss=0: no spatial prediction in differential frames).
    Because the last differential frame corrects every sample, decode
    reconstructs the EXACT input bytes at any ``levels``; intermediate
    levels give a real progressive-resolution transmission.  Container
    rule matches ``encode_jpeg_lossless``: Adobe APP14 transform=0 for
    raw-RGB color, JFIF APP0 for grayscale.  Restart intervals and point
    transforms are not emitted (decoder refuses them)."""
    if not 1 <= int(levels) <= 8:
        raise ValueError(f"bad hierarchical level count {levels}")
    planes = _lossless_planes(pixels, predictor, "encode_jpeg_hierarchical")
    h, w = planes[0].shape
    ones = [(1, 1)] * len(planes)
    pyr = [planes]
    for _ in range(int(levels) - 1):
        pyr.append([_hier_downsample(p) for p in pyr[-1]])
    coarse = pyr[-1]
    ch, cw = coarse[0].shape
    parts = [
        _jpeg_app(raw_rgb=len(planes) == 3),
        _jpeg_sof(0xDE, h, w, ones),  # DHP: full-resolution frame header
        _jpeg_dht(ac=False),
        _jpeg_sof(0xC3, ch, cw, ones),
        _lossless_scan(
            _lossless_residuals(coarse, int(predictor)), int(predictor)
        ),
    ]
    ref = coarse
    for level in range(int(levels) - 2, -1, -1):
        tgt = pyr[level]
        th, tw = tgt[0].shape
        up = [_hier_expand(r, th, tw) for r in ref]
        parts += [
            _jpeg_seg(0xDF, bytes([0x11])),  # EXP: 2× both dimensions
            _jpeg_sof(0xC7, th, tw, ones),
            _lossless_scan([t - u for t, u in zip(tgt, up)], 0),
        ]
        ref = tgt
    return _jpeg_stream(*parts)


def _decode_jpeg_lossless_frames(data: bytes) -> np.ndarray:
    """Lossless-JPEG decode (huffman, T.81 Annex H) of a standalone SOF3
    stream or a hierarchical sequence (Annex J): the decoder folds frames
    left to right, keeping per-component int32 reference planes.  DHP,
    when present, gives the full dims; a stream without DHP is a
    one-frame pyramid whose SOF3 sets them.  A non-differential SOF3
    frame (must be first) establishes the planes via Annex-H prediction
    (all 7 predictors), and each EXP + SOF7 pair expands them 2×
    (normative J.1.1.2 bilinear, trimmed to the frame dims) and adds the
    decoded differences modulo 2^16 (J.1.1.4).  Supports 1- or
    3-component interleaved scans at 1×1 sampling.  Refusal set (untested
    paths refuse to the byte-view stub): DCT / differential-DCT /
    arithmetic hierarchical frames (SOF0/1/2/5/6/9-15), restart
    intervals, point transforms, subsampled scans, EXP modes other than
    2×2, a differential frame without a preceding EXP, and any frame/DHP
    dimension mismatch.  Returns the same flat uint8 convention as
    ``_decode_jpeg``."""
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    full = None  # (h, w, comps) from DHP, or from the lone SOF3 without one
    pyramid = False  # a DHP declared a hierarchical sequence
    kind = "lossless"  # names the process in refusal messages
    refs: list[np.ndarray] | None = None
    cur = None  # (h, w, comps, differential) of the frame awaiting its scan
    pending_exp = False
    total_budget = 0
    walk = _JpegMarkers(data)
    for marker, body in walk:
        if marker == 0xDE or (marker == 0xC3 and full is None):
            if full is not None:
                raise ValueError("duplicate DHP segment")
            pyramid = marker == 0xDE
            kind = "hierarchical" if pyramid else "lossless"
            full = _parse_sof(body)
            if any(hs != 1 or vs != 1 for _, hs, vs, _ in full[2]):
                raise ValueError(f"subsampled {kind} scan unsupported")
            # the entropy loops run per sample in pure Python, so the
            # absolute cap is 64x TIGHTER than the DCT paths' (4M samples
            # vs 256M): at the DCT cap a crafted header could pin an
            # executor for an hour before refusing (review catch r8);
            # 4M ≈ 2048x2048 gray decodes in seconds.  A pyramid caps its
            # TOTAL over all frames: mandatory EXP doubling before every
            # differential frame bounds the sum at 4/3 × full size, plus a
            # constant for degenerate tiny pyramids whose halving floors
            # at 1×1 (frame count ≤ log2(dim) + 1, structurally enforced)
            n_full = full[0] * full[1] * len(full[2])
            total_budget = n_full * 2 + 1024 if pyramid else n_full
            if total_budget > (2 if pyramid else 1) * 4_194_304:
                raise ValueError("JPEG dimensions exceed decode cap")
            if pyramid:
                continue
        if marker == 0xDF:
            if len(body) != 1 or body[0] != 0x11:
                raise ValueError("EXP mode unsupported")
            if refs is None:
                raise ValueError("EXP before any hierarchical frame")
            pending_exp = True
        elif marker == 0xC4:
            _parse_dht(body, htables)
        elif marker == 0xDD:
            ri = _parse_dri(body)
            if ri:
                raise ValueError(f"restart intervals in {kind} scans unsupported")
        elif marker in (0xC3, 0xC7):
            if full is None:
                raise ValueError("hierarchical frame before DHP")
            if cur is not None:
                raise ValueError("hierarchical frame missing its scan")
            fh, fw, fcomps = _parse_sof(body)
            if not fh or not fw:
                raise ValueError(f"empty {kind} frame")
            if [c[0] for c in fcomps] != [c[0] for c in full[2]] or any(
                hs != 1 or vs != 1 for _, hs, vs, _ in fcomps
            ):
                raise ValueError("hierarchical frame component mismatch")
            if fh > full[0] or fw > full[1]:
                raise ValueError("hierarchical frame exceeds DHP dims")
            differential = marker == 0xC7
            if differential == (refs is None):
                raise ValueError(
                    "hierarchical frame order: one non-differential frame "
                    "first, then differential frames"
                )
            cur = (fh, fw, fcomps, differential)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC5, 0xC6, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported hierarchical JPEG frame FF{marker:02X}"
            )
        elif marker == 0xDA:
            if cur is None:
                raise ValueError("hierarchical scan before its frame")
            fh, fw, fcomps, differential = cur
            sos_comps, ss, se, ah, al = _parse_sos(body)
            ns = len(sos_comps)
            # the scan's component sequence must equal the frame's —
            # order defines the interleave, so a reordered or duplicated
            # list would silently decode wrong pixels; refuse instead
            # (review catch r8, same 'refuse rather than misparse'
            # contract as the DQT precision guard)
            if [c[0] for c in sos_comps] != [c[0] for c in fcomps]:
                raise ValueError("lossless scan component order mismatch")
            if differential and ss != 0:
                raise ValueError(f"bad differential scan predictor {ss}")
            if not differential and not 1 <= ss <= 7:
                raise ValueError(f"bad lossless predictor {ss}")
            if se != 0 or ah != 0:
                raise ValueError("bad lossless scan parameters")
            if al != 0:
                raise ValueError("lossless point transform unsupported")
            n_samples = fh * fw * ns
            total_budget -= n_samples
            if total_budget < 0:
                raise ValueError("JPEG dimensions exceed decode cap")
            tabs = []
            for si in range(ns):
                tab = htables.get((0, body[2 + 2 * si] >> 4))
                if tab is None:
                    raise ValueError("missing DC huffman table")
                tabs.append(tab)
            # a sample costs at least the parsed tables' shortest code
            # (ADVICE r9 — see _min_bits_per_lossless_sample)
            mb = _min_bits_per_lossless_sample(tabs)
            if n_samples * mb > max(0, len(data) - walk.pos) * 8 + 64 * mb:
                raise ValueError("JPEG scan too short for declared dims")
            if differential:
                if pending_exp:
                    # the frame must actually BE the 2x expansion of the
                    # reference (ceil-halving inverse) — an EXP followed by
                    # a same-or-smaller frame would expand-then-trim back
                    # and silently decode wrong pixels (review catch r9)
                    rh, rw = refs[0].shape
                    if (fh + 1) // 2 != rh or (fw + 1) // 2 != rw:
                        raise ValueError(
                            "EXP frame dims are not a 2x expansion of the "
                            "reference"
                        )
                    refs = [_hier_expand(r, fh, fw) for r in refs]
                    pending_exp = False
                elif refs[0].shape != (fh, fw):
                    # same-size correction frames are spec-legal but this
                    # repo's encoder never emits them — refuse, don't guess
                    raise ValueError(
                        "differential frame without preceding EXP"
                    )
            # ss is 0 in a differential scan: add to the expanded refs
            refs, walk.pos = _lossless_entropy_scan(
                data, walk.pos, fh, fw, tabs, ss, refs=refs
            )
            cur = None
            if not pyramid:
                break  # one-frame stream: nothing after its scan is read
    if full is None or refs is None:
        raise ValueError(
            "JPEG missing DHP/frames" if pyramid else "JPEG missing SOF/SOS"
        )
    if cur is not None or pending_exp:
        raise ValueError("hierarchical stream truncated mid-frame")
    if refs[0].shape != (full[0], full[1]):
        raise ValueError("hierarchical frames never reached DHP dims")
    out = [np.clip(p, 0, 255).astype(np.uint8) for p in refs]
    if len(out) == 1:
        return out[0].reshape(-1)
    return np.stack(out, axis=-1).reshape(-1)


def jpeg_lossless_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """Lossless-JPEG codec contract — the fifth codec-audit sibling,
    exercising the SOF3 predictive path.  Each qualifying row's first
    ``side²`` utf-8 bytes become a gray (side, side) image encoded with
    EVERY one of the 7 Annex-H predictors, and an RGB derivative
    (channel 0 = the bytes, 1 = a rolled copy, 2 = the complement —
    deterministic from the text alone) encoded with the default
    predictor; the contract pins EXACT byte equality on every decode —
    the property only the lossless process can promise, so any
    prediction, residual, or interleave bug breaks equality outright.
    Scale: pure Arrow-batched ``mapInPandas`` behind an explicit
    repartition, same as the other codec audits."""

    def row(raw):
        enc0 = encode_jpeg_lossless(raw, predictor=4)
        rgb = _audit_rgb(raw)
        return (
            0 <= enc0.find(b"\xff\xc3") < enc0.find(b"\xff\xda"),
            all(
                np.array_equal(
                    _decode_jpeg(encode_jpeg_lossless(raw, predictor=p)),
                    raw.reshape(-1),
                )
                for p in range(1, 8)
            ),
            np.array_equal(
                _decode_jpeg(encode_jpeg_lossless(rgb)), rgb.reshape(-1)
            ),
        )

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("is_sof3", "gray_exact_all_predictors", "rgb_exact"),
        lambda raws: list(map(row, raws)),
    )


def jpeg_hierarchical_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """Hierarchical-JPEG codec contract — the sixth codec-audit sibling,
    exercising the Annex-J DHP/EXP/SOF7 pyramid path.  Each qualifying
    row's first ``side²`` utf-8 bytes become a gray (side, side) image
    encoded at EVERY level count 1–3 (1 = DHP + single SOF3 frame,
    2–3 = real pyramids with one/two differential frames), and an RGB
    derivative (channel 0 = the bytes, 1 = a rolled copy, 2 = the
    complement — deterministic from the text alone) encoded at
    levels=2; the contract pins EXACT byte equality on every decode —
    the self-correcting differential frame makes equality the provable
    property, so any expansion, residual, or frame-sequencing bug
    breaks it outright.  Scale: pure Arrow-batched ``mapInPandas``
    behind an explicit repartition, same as the other codec audits."""

    def row(raw):
        # enc2 serves both the marker check and the lv=2 decode — the
        # encoder is a per-sample bit loop, don't run it twice
        enc2 = encode_jpeg_hierarchical(raw, levels=2)
        rgb = _audit_rgb(raw)
        return (
            0 <= enc2.find(b"\xff\xde") < enc2.find(b"\xff\xc3")
            and enc2.count(b"\xff\xc7") == 1,
            np.array_equal(_decode_jpeg(enc2), raw.reshape(-1))
            and all(
                np.array_equal(
                    _decode_jpeg(encode_jpeg_hierarchical(raw, levels=lv)),
                    raw.reshape(-1),
                )
                for lv in (1, 3)
            ),
            np.array_equal(
                _decode_jpeg(encode_jpeg_hierarchical(rgb, levels=2)),
                rgb.reshape(-1),
            ),
        )

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("is_dhp", "gray_exact_all_levels", "rgb_exact"),
        lambda raws: list(map(row, raws)),
    )


def png_palette_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """PNG palette/Adam7 codec contract — the paletted-image shape icon
    and screenshot corpora ship.  Each qualifying row's first ``side²``
    utf-8 bytes become (a) an 8-bit-indexed image through the identity
    grayscale palette (decode must equal the raw bytes exactly), (b) a
    4-bit-indexed image through a 16-step gray ramp (decode ==
    (byte >> 4) * 17), and (c) a 1-bit image through a black/white
    palette (decode == (byte >> 7) * 255) — each encoded plain AND
    Adam7-interlaced, all six streams pinned to exact equality.  Scale:
    pure Arrow-batched ``mapInPandas`` behind an explicit repartition,
    same as the other codec audits."""

    gray = _GRAY_PALETTE
    ramp16 = np.stack([np.arange(16, dtype=np.uint8) * 17] * 3, axis=1)
    bw = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    cases = [  # (palette, bit depth, index fn, expected fn)
        (gray, 8, lambda b: b, lambda b: b),
        (ramp16, 4, lambda b: b >> 4, lambda b: (b >> 4) * 17),
        (bw, 1, lambda b: b >> 7, lambda b: (b >> 7) * 255),
    ]

    def ok(raw):
        for pal, depth, f_idx, f_want in cases:
            idx = f_idx(raw)
            want = f_want(raw).reshape(-1)
            for inter in (False, True):
                enc = encode_png_indexed(
                    idx, pal, bit_depth=depth, interlace=inter
                )
                if not np.array_equal(_decode_png(enc), want):
                    return False
        return True

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("palette_adam7_exact",),
        lambda raws: [(ok(raw),) for raw in raws],
    )


def png_full_surface_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """PNG full-critical-surface codec contract (r10): every IHDR-legal
    (color type, bit depth) combination — gray 1/2/4/8/16, truecolor
    8/16, gray+alpha 8/16, RGBA 8/16 — plain AND Adam7, 22 encode/decode
    round-trips per qualifying row, all derived closed-form from the
    row's first ``side²`` utf-8 bytes: sub-byte gray decodes to the
    bit-replication scaling (×255/×85/×17), depth 16 to the high byte
    (low bytes deliberately nonzero so a lane/endianness bug breaks the
    pin), multi-channel to the interleaved per-channel samples.  Scale:
    pure Arrow-batched ``mapInPandas`` behind an explicit repartition,
    same as the other codec audits."""

    def ok(raw: np.ndarray) -> bool:
        r16 = raw.astype(np.uint16)
        gray_cases = [  # (px, depth, want)
            (raw, 8, raw),
            ((r16 << 8) | ((r16 * 7 + 3) & 0xFF), 16, raw),
            (raw >> 7, 1, (raw >> 7) * 255),
            (raw >> 6, 2, (raw >> 6) * 85),
            (raw >> 4, 4, (raw >> 4) * 17),
        ]
        chans = [raw, 255 - raw, raw >> 1, raw | 1]
        multi_cases = []
        for ct, nch in ((2, 3), (4, 2), (6, 4)):
            px8 = np.stack(chans[:nch], axis=-1)
            multi_cases.append((px8, ct, 8, px8))
            px16 = (px8.astype(np.uint16) << 8) | (
                (px8.astype(np.uint16) * 11 + 5) & 0xFF
            )
            multi_cases.append((px16, ct, 16, px8))
        for inter in (False, True):
            for px, depth, want in gray_cases:
                dec = _decode_png(encode_png(px, 0, depth, inter))
                if not np.array_equal(dec, want.reshape(-1)):
                    return False
            for px, ct, depth, want in multi_cases:
                dec = _decode_png(encode_png(px, ct, depth, inter))
                if not np.array_equal(dec, want.reshape(-1)):
                    return False
        return True

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("full_surface_exact",),
        lambda raws: [(ok(raw),) for raw in raws],
    )


def bmp_surface_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, side: int = 16
) -> DataFrame:
    """BMP classic-surface codec contract (r10): indexed 1/4/8-bit
    (sub-byte MSB-first packing), BI_RLE8 (run-heavy AND high-entropy
    inputs, so both the run and the many-short-runs paths execute) — 5
    encode/decode round-trips per qualifying row, expected output
    closed-form from the row's first ``side²`` utf-8 bytes through the
    same palette conventions as the PNG contract.  Scale: pure
    Arrow-batched ``mapInPandas`` behind an explicit repartition, same as
    the other codec audits."""

    gray = _GRAY_PALETTE
    ramp16 = np.stack([np.arange(16, dtype=np.uint8) * 17] * 3, axis=1)
    bw = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    cases = [  # (palette, depth, rle, index fn, expected fn)
        (gray, 8, False, lambda b: b, lambda b: b),
        (gray, 8, True, lambda b: b, lambda b: b),
        # run-heavy RLE: quantized rows compress into long runs
        (gray, 8, True, lambda b: b & 0xF0, lambda b: b & 0xF0),
        (ramp16, 4, False, lambda b: b >> 4, lambda b: (b >> 4) * 17),
        (bw, 1, False, lambda b: b >> 7, lambda b: (b >> 7) * 255),
    ]

    def ok(raw: np.ndarray) -> bool:
        for pal, depth, rle, f_idx, f_want in cases:
            enc = encode_bmp_indexed(f_idx(raw), pal, bit_depth=depth, rle=rle)
            if not np.array_equal(_decode_bmp(enc), f_want(raw).reshape(-1)):
                return False
        return True

    return _roundtrip_audit(
        df, id_col, text_col, side * side, (side, side), "n_pixels",
        ("bmp_surface_exact",),
        lambda raws: [(ok(raw),) for raw in raws],
    )


def wav_pcm_surface_roundtrip_audit(
    df: DataFrame, id_col: str, text_col: str, n: int = 256
) -> DataFrame:
    """WAV integer-PCM surface contract (r10): 8/16/24/32-bit PCM, mono
    and stereo, 8 encode/decode round-trips per qualifying row, expected
    output closed-form from the row's first ``n`` utf-8 bytes — each
    deeper depth plants the byte in the TOP byte of the offset-binary
    value with deliberately nonzero low bytes, so the decode reduction
    must recover the byte exactly (an endianness, packing, or sign-flip
    bug breaks the pin).  Scale: pure Arrow-batched ``mapInPandas``
    behind an explicit repartition, same as the other codec audits."""

    def ok(raw: np.ndarray) -> bool:
        r = raw.astype(np.int64)
        cases = [  # (samples array, bits kwarg, expected flat bytes)
            (raw, None, raw),
            (
                (((r - 128) << 8) + ((r * 3 + 1) & 0xFF)).astype(np.int16),
                None,
                raw,
            ),
            (
                (((r - 128) << 16) + ((r * 5 + 7) & 0xFFFF)).astype(
                    np.int32
                ),
                24,
                raw,
            ),
            (
                (((r - 128) << 24) + ((r * 9 + 11) & 0xFFFFFF)).astype(
                    np.int32
                ),
                None,
                raw,
            ),
        ]
        for mono, bits, want in cases:
            stereo = np.stack(
                [mono, mono[::-1]], axis=1
            )  # (n, 2) interleaved frames
            want2 = np.stack([want, want[::-1]], axis=1).reshape(-1)
            for s, w in ((mono, want), (stereo, want2)):
                enc = (
                    encode_wav_pcm(s, bits=bits)
                    if bits
                    else encode_wav_pcm(s)
                )
                if not np.array_equal(_decode_wav(enc), w):
                    return False
        return True

    return _roundtrip_audit(
        df, id_col, text_col, n, (n,), "n_samples",
        ("pcm_surface_exact",),
        lambda raws: [(ok(raw),) for raw in raws],
    )


def _decode_bytes(data: bytes) -> np.ndarray:
    """Decode a media payload to a flat uint8 intensity/amplitude array.

    REAL decode for the formats parseable with stdlib + numpy alone —
    BMP (magic ``BM``; indexed 1/4/8-bit incl. RLE8 runs, 24/32-bit
    truecolor), RIFF/WAVE (integer PCM 8/16/24/32-bit, any
    channel count), PNG (zlib inflate + per-row unfilter;
    the full critical-chunk surface: gray at depth 1/2/4/8/16 and
    RGB/palette/gray+alpha/RGBA color types, Adam7 interlace, depth 16
    reduced to the high byte),
    and huffman JPEG sequential, progressive, lossless AND hierarchical
    (canonical huffman + orthonormal IDCT, grayscale or YCbCr at any
    integer sampling layout incl. 4:2:0, restart intervals in sequential
    AND progressive scans, 16-bit DQT, SOF2 multi-scan with successive
    approximation, SOF3 Annex-H predictive with exact round-trips,
    Annex-J DHP/EXP/SOF7 differential pyramids with exact round-trips) —
    so the feature/resize/frame paths run on genuinely decoded samples
    with zero extra dependencies.  Whatever remains (arithmetic JPEG, the
    differential-DCT hierarchical frames SOF5/SOF6, mp4 — codec
    libraries this container lacks) falls back to the documented deterministic
    stub: payload bytes viewed as uint8 — same numpy/Arrow data path,
    clearly-marked swap point for a real codec (PIL / soundfile / pyav on
    the cluster image).
    """
    if data is None or len(data) == 0:
        return np.zeros(0, dtype=np.uint8)
    b = bytes(data[:12])
    try:
        if b[:2] == b"BM":
            return _decode_bmp(bytes(data))
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            return _decode_wav(bytes(data))
        if b[:8] == PNG_SIG:
            return _decode_png(bytes(data))
        if b[:2] == b"\xff\xd8":
            return _decode_jpeg(bytes(data))
    except Exception:
        # malformed/truncated container: fall through to the byte-view stub
        pass
    return np.frombuffer(data, dtype=np.uint8)


def synthesize_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    modality: str = "image",
    container: str = "raw",
) -> DataFrame:
    """Manufacture a media table from a text table (test/fixture path):
    payload derived from the utf-8 bytes of the text, metadata from its
    length.  Deterministic, so every downstream op is reproducible.

    ``container`` selects the payload encoding:

    - ``"raw"`` (default): the utf-8 bytes themselves (decode falls back to
      the byte-view stub);
    - ``"alternate"``: REAL containers cycling on media_id % 3 — 0 → a 1×N
      8-bit grayscale BMP whose pixel row is the text bytes, 1 → an 8-bit
      PCM WAV whose samples are the text bytes, 2 → a 1×N 8-bit grayscale
      PNG of the same row (zlib-deflated scanline).  ``_decode_bytes``
      then exercises the genuine BMP/WAV/PNG parsers end-to-end, and
      decoded samples equal the text bytes exactly (identity palette, no
      padding survivors, lossless deflate), so an engine-independent
      oracle can still restate every downstream feature from the text
      column.

    The encode runs in an Arrow-batched ``mapInPandas`` — the identical
    batch shape a real codec writes through (PIL ``Image.save`` /
    ``soundfile.write`` per row inside the batch loop)."""
    if container == "raw":
        n = F.length(F.col(text_col))
        return df.select(
            F.col(id_col).alias("media_id"),
            F.encode(F.col(text_col), "UTF-8").alias("data"),
            F.struct(
                F.lit(modality).alias("modality"),
                F.lit("raw").alias("format"),
                F.greatest(F.floor(F.sqrt(n)).cast("int"), F.lit(1)).alias("width"),
                F.greatest(F.floor(F.sqrt(n)).cast("int"), F.lit(1)).alias("height"),
                F.lit(1).alias("channels"),
                F.lit(None).cast("int").alias("sample_rate"),
                (n % 32 + 1).cast("int").alias("n_frames"),
                ((n % 32 + 1) / F.lit(30.0)).alias("duration_s"),
            ).alias("meta"),
        )
    if container != "alternate":
        raise ValueError(f"unknown container {container!r} (raw | alternate)")
    rate = 8000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                b = np.frombuffer(str(text).encode("utf-8"), dtype=np.uint8)
                n = int(b.size)
                sel = int(mid) % 3
                if sel == 0:
                    meta = {
                        "modality": "image", "format": "bmp",
                        "width": n, "height": 1, "channels": 1,
                        "sample_rate": None, "n_frames": 1, "duration_s": None,
                    }
                    payload = (
                        encode_bmp_indexed(b[None, :], _GRAY_PALETTE)
                        if n else None
                    )
                elif sel == 1:
                    meta = {
                        "modality": "audio", "format": "wav",
                        "width": None, "height": None, "channels": 1,
                        "sample_rate": rate, "n_frames": None,
                        "duration_s": n / rate,
                    }
                    payload = encode_wav_pcm(b, rate) if n else None
                else:
                    meta = {
                        "modality": "image", "format": "png",
                        "width": n, "height": 1, "channels": 1,
                        "sample_rate": None, "n_frames": 1, "duration_s": None,
                    }
                    payload = encode_png(b[None, :], 0) if n else None
                rows.append((int(mid), payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "data", "meta"])

    src = df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("text"),
    )
    return src.mapInPandas(run, MEDIA_SCHEMA)


EXT_MODALITY = {
    "jpg": "image", "jpeg": "image", "png": "image", "bmp": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio",
    "mp4": "video", "mkv": "video", "avi": "video",
}


def read_binary_dir(
    spark: "SparkSession", path: str, glob: str | None = None
) -> DataFrame:
    """Ingest a directory of media files as the engine's media table via
    Spark's ``binaryFile`` source — (media_id, data, meta) with modality
    derived from the extension.

    This is the production path that `synthesize_media` stands in for in
    tests: the `binaryFile` reader distributes file reads across executors
    (one task per file split set), carries (path, modificationTime, length,
    content), and supports `pathGlobFilter` pushdown so a modality filter
    never opens non-matching files.  Decode stays downstream in
    `extract_features`/`resize_stub` (codec libs are deliberately stubbed;
    the Spark-side schema, partitioning, and batch shape are real).

    Reference analog: asset-store scans (`scene_scanner.py:163-201`,
    `render_engine.py:8-26`) — there a driver-side glob, here a distributed
    source with the same exclusion semantics.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    modality = F.coalesce(
        *[F.when(ext == e, F.lit(m)) for e, m in EXT_MODALITY.items()],
        F.lit("binary"),
    )
    return raw.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.col("content").alias("data"),
        F.struct(
            modality.alias("modality"),
            ext.alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
        F.col("path").alias("source_path"),
        F.col("length").alias("n_bytes"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Per-media feature extraction via ``mapInPandas`` (Arrow batches).

    One output row per input row; constant memory — only one Arrow batch of
    payloads is resident per task at a time.  Pure map: no shuffle, scales
    linearly with executors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                arr = _decode_bytes(data)
                if arr.size:
                    counts = np.bincount(arr, minlength=256)
                    out.append(
                        (
                            int(mid),
                            int(arr.size),
                            float(arr.mean()),
                            float(arr.std()),
                            int(counts.argmax()),
                        )
                    )
                else:
                    out.append((int(mid), 0, None, None, None))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "n_bytes",
                    "mean_intensity",
                    "std_intensity",
                    "histogram_mode",
                ],
            )

    return media.select("media_id", "data").mapInPandas(run, FEATURE_SCHEMA)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing with the codec stubbed: output payload is the fake
    "resampled" byte array (truncate/tile to width*height), metadata struct
    rewritten to the new dimensions.  Signature, schema and batch flow are
    exactly what a real resize (PIL ``Image.resize`` per row inside the
    batch loop) uses."""
    target = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                arr = _decode_bytes(data)
                if arr.size == 0:
                    resized = b""
                elif arr.size >= target:
                    resized = arr[:target].tobytes()
                else:
                    resized = np.tile(arr, target // arr.size + 1)[:target].tobytes()
                rows.append((int(mid), resized))
            yield pd.DataFrame(rows, columns=["media_id", "data"])

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    resized = media.select("media_id", "data").mapInPandas(run, out_schema)
    meta = media.select(
        "media_id",
        F.col("meta")
        .withField("width", F.lit(width))
        .withField("height", F.lit(height))
        .alias("meta"),
    )
    # 1:1 equi-join on media_id; Catalyst broadcasts or shuffles by size
    return resized.join(meta, "media_id")


def dominant_frequency_bins(media: DataFrame) -> DataFrame:
    """Dominant spectral bin per audio payload: real WAV decode →
    DC-removed rFFT magnitude → argmax over bins 1..n/2.  ``mapInPandas``
    pure map (no shuffle, one Arrow batch of payloads resident per task);
    numpy's pocketfft is deterministic for a given input, and the checked
    output is the integer BIN index, robust to float noise whenever the
    signal has one dominant tone (quantization noise is ~48 dB down).
    Returns (media_id, n_samples, dom_bin)."""
    from pyspark.sql.types import (  # noqa: PLC0415
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_samples", LongType(), True),
            StructField("dom_bin", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                arr = _decode_bytes(data)
                if arr.size >= 4:
                    x = arr.astype(np.float64)
                    spec = np.abs(np.fft.rfft(x - x.mean()))
                    out.append(
                        (int(mid), int(arr.size), int(spec[1:].argmax()) + 1)
                    )
                else:
                    out.append((int(mid), int(arr.size), None))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "dom_bin"]
            )

    return media.select("media_id", "data").mapInPandas(run, schema)


def synthesize_tone_wavs(
    df: DataFrame, id_col: str, n_samples: int = 256, amp: float = 80.0
) -> DataFrame:
    """Synthesize a REAL 8-bit PCM WAV per row containing one pure sine at
    FFT bin ``id % 100 + 4`` of an ``n_samples``-sample frame — a KNOWN
    ground truth derivable from the id by arithmetic alone, which is what
    makes the FFT path end-to-end ORACLE-CHECKABLE: an integer-bin sine
    under a rectangular window concentrates all its energy in its own
    bin, so `dominant_frequency_bins` must return exactly that bin."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(n_samples, dtype=np.float64)
        for pdf in batches:
            out = []
            for rid in pdf[id_col]:
                k = int(rid) % 100 + 4
                wave = 127.5 + amp * np.sin(2.0 * np.pi * k * t / n_samples)
                samples = np.clip(np.round(wave), 0, 255).astype(np.uint8)
                out.append((int(rid), encode_wav_pcm(samples)))
            yield pd.DataFrame(out, columns=["media_id", "data"])

    from pyspark.sql.types import (  # noqa: PLC0415
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    return df.select(id_col).mapInPandas(run, schema)


def synthesize_pattern_bmps(
    df: DataFrame, id_col: str, classes: int = 50
) -> DataFrame:
    """Synthesize a REAL 64×64 grayscale BMP per row whose 8×8 block
    pattern encodes the low 60 bits of md5(id % classes): block k is
    bright (200) iff bit k is set, else dark (50).  The average-hash of
    such an image equals that 60-bit value EXACTLY (uniform blocks sit
    strictly above/below the global mean whenever 0 < popcount < 64), so
    `average_hash_64` becomes end-to-end oracle-checkable by arithmetic —
    the image counterpart of `synthesize_tone_wavs`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib  # noqa: PLC0415

        for pdf in batches:
            out = []
            for rid in pdf[id_col]:
                key = str(int(rid) % classes)
                v = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
                bits = np.array(
                    [(v >> k) & 1 for k in range(64)], dtype=np.uint8
                ).reshape(8, 8)
                img = np.where(
                    np.kron(bits, np.ones((8, 8), dtype=np.uint8)), 200, 50
                ).astype(np.uint8)
                out.append((int(rid), encode_bmp_indexed(img, _GRAY_PALETTE)))
            yield pd.DataFrame(out, columns=["media_id", "data"])

    from pyspark.sql.types import (  # noqa: PLC0415
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    return df.select(id_col).mapInPandas(run, schema)


def average_hash_64(media: DataFrame, side: int = 64) -> DataFrame:
    """Perceptual average-hash (aHash) per image: real BMP decode →
    8×8 block means → bit k set iff block k's mean exceeds the global
    mean → one signed 64-bit hash.  Near-identical images land on equal
    (or Hamming-close) hashes, so exact-hash groupBy IS perceptual
    dedup — the image member of the dedup family, scale-shaped like
    exact text dedup (16-byte key shuffle, payload never shuffles).
    Returns (media_id, ahash)."""
    from pyspark.sql.types import (  # noqa: PLC0415
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ahash", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                arr = _decode_bytes(data)
                if arr.size != side * side:
                    out.append((int(mid), None))
                    continue
                img = arr.reshape(side, side).astype(np.float64)
                b = side // 8
                means = img.reshape(8, b, 8, b).mean(axis=(1, 3))
                bits = (means > img.mean()).reshape(-1)
                h = 0
                for k in range(64):
                    if bits[k]:
                        h |= 1 << k
                if h >= 1 << 63:  # signed int64 wrap — bit 63 is valid
                    h -= 1 << 64
                out.append((int(mid), int(h)))
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    return media.select("media_id", "data").mapInPandas(run, schema)


def sample_frames(media: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame sampling fan-out: one output row per kept frame.

    Frame indices come from the metadata (``n_frames``) via sequence+explode
    — pure expression; the per-frame payload slice is the stubbed decode
    path inside ``mapInPandas``.  Output size = rows × n_frames/every_n —
    the fan-out shape a video pipeline feeds to a captioning model."""
    idx = media.select(
        "media_id",
        "data",
        F.explode(
            F.filter(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1),
                lambda i: i % every_n == 0,
            )
        ).alias("frame_idx"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data, fi in zip(pdf["media_id"], pdf["data"], pdf["frame_idx"]):
                arr = _decode_bytes(data)
                if arr.size == 0:
                    frame = b""
                else:
                    # fake per-frame slice: rotate payload by frame index
                    frame = np.roll(arr, -int(fi))[: max(arr.size // 8, 1)].tobytes()
                rows.append((int(mid), int(fi), frame))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_data"])

    return idx.mapInPandas(run, FRAME_SCHEMA)
