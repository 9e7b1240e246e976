"""Multimodal column operators (north-star extension per BASELINE.json).

Media (image/audio/video) are opaque ``binary`` payload columns with a
typed metadata struct — the pattern a 100 TB training-data lake uses:
payload bytes stay unparsed in parquet, metadata is columnar and
prunable, and decode happens late, inside Arrow-batched ``mapInPandas``
workers, never on the driver.

Two decode tiers coexist: the original deterministic fake (payload
bytes ARE the pixel/sample values — cheap, schema-stable, used by the
feature/metadata queries) and ``decode_real``, a genuine container
parser — 24-bit BMP, binary PPM (P6), and RIFF/WAVE PCM16 — built on
pure numpy + struct with magic-byte dispatch, real header arithmetic
(BGR order, bottom-up rows, 4-byte padding, chunk walking), and
hypothesis-tested encode/decode round trips.  PNG — a genuinely
COMPRESSED codec — decodes with nothing beyond the standard library
(zlib inflate + the spec's five scanline filters, ``_decode_png``),
and JPEG — sequential AND progressive — decodes with pure numpy
(marker walk, DHT-driven canonical Huffman, multi-scan coefficient
accumulation with successive approximation, dequant, vectorized IDCT,
``_decode_jpeg``).  No codec library is imported anywhere on this
path; Pillow is used only by optional cross-check tests where it
happens to exist.

Scale notes:
- payload columns dominate bytes: push metadata predicates (kind, width)
  to the parquet scan so payloads of filtered rows are never read
  (column pruning keeps `payload` out of metadata-only queries entirely).
- mapInPandas streams Arrow batches; per-batch memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it so
  batch_rows × max_payload fits the Python worker.
- feature extraction emits small fixed-width rows from wide payloads —
  repartition *after* extraction, not before, to shuffle features not
  bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# image rows are 8 px wide; video frames are 4x4 = 16 bytes
IMG_WIDTH = 8
FRAME_BYTES = 16
AUDIO_RATE = 16000

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                    StructField("n_frames", IntegerType()),
                    StructField("n_bytes", IntegerType()),
                ]
            ),
        ),
    ]
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from ``documents``: payload =
    UTF-8 bytes of the text (ASCII ⇒ 1 byte/char, so a DuckDB oracle can
    reason about the same bytes via ascii()); kind cycles by doc_id.
    Metadata is derived from payload length exactly as a real ingest
    would record decoder output dims."""
    n_bytes = F.octet_length("text").cast("int")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(IMG_WIDTH).alias("width"),
            F.floor(n_bytes / IMG_WIDTH).cast("int").alias("height"),
            F.lit(AUDIO_RATE).alias("sample_rate"),
            F.floor(n_bytes / FRAME_BYTES).cast("int").alias("n_frames"),
            n_bytes.alias("n_bytes"),
        ).alias("meta"),
    )


# --- real byte-format codecs (pure numpy + struct, no external libs) -------
#
# BMP (24-bit uncompressed), PPM (binary P6) and WAV (PCM16 mono) need no
# codec library — they are header + raw samples.  These parsers read the
# REAL container formats (field offsets, bottom-up row order, 4-byte row
# padding, chunk walking), so the D3 decode path exercises genuine byte
# parsing end-to-end; PIL/soundfile would slot in only for compressed
# formats (JPEG/FLAC), which stay out of scope in this container.


def encode_bmp(vals: np.ndarray, width: int) -> bytes:
    """Grayscale values -> 24-bit uncompressed BMP (BITMAPINFOHEADER).
    Each value becomes a B=G=R pixel; rows are stored BOTTOM-UP and
    padded to 4-byte boundaries per the format."""
    import struct

    vals = np.asarray(vals, dtype=np.uint8)
    h = vals.size // width
    if h < 1:
        raise ValueError(f"need at least one complete row of {width}px, got {vals.size} vals")
    img = vals[: h * width].reshape(h, width)
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = np.repeat(img[r], 3).tobytes()  # B=G=R triplets
        body += row + b"\x00" * pad
    pixel_off = 14 + 40
    size = pixel_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, width, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def encode_ppm(vals: np.ndarray, width: int) -> bytes:
    """RGB byte triplets -> binary PPM (P6, maxval 255)."""
    vals = np.asarray(vals, dtype=np.uint8)
    h = vals.size // (width * 3)
    if h < 1:
        raise ValueError(f"need >= {width * 3} vals for one row, got {vals.size}")
    body = vals[: h * width * 3].tobytes()
    return f"P6\n{width} {h}\n255\n".encode("ascii") + body


def encode_wav(vals: np.ndarray, rate: int = AUDIO_RATE) -> bytes:
    """int16 samples -> RIFF/WAVE, PCM16 mono, little-endian."""
    import struct

    samples = np.asarray(vals, dtype=np.int16).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP into (h, w, 3) uint8 RGB, undoing
    the stored BGR order, bottom-up rows (negative biHeight = top-down),
    and per-row 4-byte padding."""
    import struct

    magic, _size, _r1, _r2, pixel_off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP: bad magic")
    hdr_size, w, h_signed, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: hdr={hdr_size} bpp={bpp} comp={compression}")
    top_down = h_signed < 0
    h = abs(h_signed)
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    need = pixel_off + stride * h
    if len(payload) < need:
        raise ValueError(f"truncated BMP: have {len(payload)} bytes, need {need}")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pixel_off)
    bgr = rows.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if not top_down:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Parse binary PPM (P6) into (h, w, 3) uint8 RGB, handling the
    whitespace-separated header with '#' comment lines."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM: bad magic")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    need = w * h * 3
    if len(payload) - pos < need:
        raise ValueError(f"truncated PPM: have {len(payload) - pos} sample bytes, need {need}")
    return np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos).reshape(h, w, 3).copy()


def _decode_wav(payload: bytes) -> np.ndarray:
    """Parse RIFF/WAVE PCM16 mono into an int16 sample array, walking
    the chunk list (skipping LIST/fact/etc.) to find fmt and data."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        if pos + 8 + clen > len(payload):
            # same contract as the BMP/PPM parsers: a declared length
            # past the payload end is a truncated file and must raise,
            # not silently decode fewer samples
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {clen} bytes but only "
                f"{len(payload) - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError(f"truncated WAV: fmt chunk has {clen} bytes, need 16")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_fmt, channels, _rate, _bps, _align, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16:
        raise ValueError(f"only PCM16 mono supported: fmt={audio_fmt} ch={channels} bits={bits}")
    return np.frombuffer(data, dtype="<i2").astype(np.int16)


# --- PNG (pure stdlib: zlib + struct; no codec library) ---------------------
#
# PNG is the one COMPRESSED image format decodable with nothing beyond
# the standard library: the IDAT stream is zlib (RFC 1950) and the only
# other moving part is the per-scanline filter (spec §6: None/Sub/Up/
# Average/Paeth).  The encoder below emits genuine PNG files (signature,
# CRC-checked chunks, zlib-compressed filtered scanlines) and the
# decoder walks the real container: chunk CRCs verified, IDAT segments
# concatenated, scanlines un-filtered with the spec's predictors.
# Supported: bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA),
# non-interlaced — the common training-data cases; anything else raises.

_PNG_COLOR_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (spec §6.6), vectorized over a scanline: pick
    whichever of left/up/up-left is closest to a + b - c."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def encode_png(vals: np.ndarray, width: int, color_type: int = 0) -> bytes:
    """8-bit values -> a real PNG file.  ``vals`` is consumed row-major:
    width × channels bytes per scanline, incomplete trailing rows
    dropped (the BMP/PPM encoders' contract).  Filter types CYCLE
    0,1,2,3,4 across scanlines so every spec predictor (None, Sub, Up,
    Average, Paeth) appears in the emitted stream — a decoder that
    fakes any one of them cannot round-trip these bytes."""
    import struct
    import zlib

    ch = _PNG_COLOR_CHANNELS.get(color_type)
    if ch is None:
        raise ValueError(f"unsupported PNG color type {color_type}; use 0, 2 or 6")
    vals = np.asarray(vals, dtype=np.uint8)
    row_len = width * ch
    h = vals.size // row_len
    if h < 1:
        raise ValueError(f"need >= {row_len} vals for one scanline, got {vals.size}")
    img = vals[: h * row_len].reshape(h, row_len)
    # whole-image filter computation (no per-row Python loop): left/up/
    # up-left as shifted matrices, all five candidate outputs as full
    # matrices, per-row pick by the cycling filter type
    left = np.zeros_like(img)
    left[:, ch:] = img[:, :-ch]
    prev = np.zeros_like(img)
    prev[1:] = img[:-1]
    upleft = np.zeros_like(img)
    upleft[1:, ch:] = img[:-1, :-ch]
    cand = np.stack(
        [
            img,  # 0 None
            img - left,  # 1 Sub
            img - prev,  # 2 Up
            img - ((left.astype(np.uint16) + prev.astype(np.uint16)) // 2).astype(np.uint8),
            img - _paeth(left, prev, upleft),  # 4 Paeth
        ]
    )
    ftypes = (np.arange(h) % 5).astype(np.uint8)
    packed = np.empty((h, 1 + row_len), dtype=np.uint8)
    packed[:, 0] = ftypes
    packed[:, 1:] = cand[ftypes, np.arange(h)]
    filtered = packed.tobytes()
    ihdr = struct.pack(">IIBBBBB", width, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> np.ndarray:
    """Parse a real PNG into (h, w, channels) uint8 — pure stdlib: walk
    the CRC-verified chunk list, concatenate IDAT segments, zlib-inflate,
    then undo the per-scanline filter (all five spec predictors,
    including Paeth).  Supports bit depth 8, color types 0/2/6,
    non-interlaced; anything else raises rather than guessing."""
    import struct
    import zlib

    if payload[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = len(_PNG_MAGIC), None, bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError(f"truncated PNG: chunk {ctype!r} declares {clen} bytes")
        if pos + 12 + clen > len(payload):
            # the body guard above covers only the body: a payload cut
            # inside the 4 trailing CRC bytes would otherwise surface as
            # struct.error, breaking decode_real's fail-loudly-with-
            # ValueError contract
            raise ValueError(f"truncated PNG: chunk {ctype!r} missing CRC bytes")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {ctype!r} failed CRC check")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    ch = _PNG_COLOR_CHANNELS.get(color_type)
    if depth != 8 or ch is None or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={color_type} "
            f"interlace={interlace} (8-bit gray/RGB/RGBA non-interlaced only)"
        )
    raw = zlib.decompress(bytes(idat))
    row_len = w * ch
    if len(raw) != h * (1 + row_len):
        raise ValueError(
            f"PNG scanline data is {len(raw)} bytes, expected {h * (1 + row_len)}"
        )
    mat = np.frombuffer(raw, np.uint8).reshape(h, 1 + row_len)
    ftypes, lines = mat[:, 0], mat[:, 1:]
    bad = ftypes[ftypes > 4]
    if bad.size:
        r = int(np.argmax(ftypes > 4))
        raise ValueError(f"PNG scanline {r} has invalid filter type {int(ftypes[r])}")
    out = np.zeros((h, row_len), dtype=np.uint8)
    zero = np.zeros(row_len, dtype=np.uint8)
    for r in range(h):
        ftype = ftypes[r]
        line = lines[r]
        prev = out[r - 1] if r else zero
        if ftype == 0:
            out[r] = line
        elif ftype == 2:  # Up — vectorized (uint8 wraps mod 256)
            out[r] = line + prev
        elif ftype == 1:  # Sub — per-channel prefix sum mod 256
            out[r] = (
                line.reshape(-1, ch).astype(np.uint32).cumsum(axis=0) % 256
            ).astype(np.uint8).reshape(-1)
        else:  # Average/Paeth: the left byte is a serial dependency;
            # plain-int lists are ~5x numpy scalar indexing here
            ln, pv = line.tolist(), prev.tolist()
            cur = [0] * row_len
            if ftype == 3:
                for i in range(row_len):
                    a = cur[i - ch] if i >= ch else 0
                    cur[i] = (ln[i] + ((a + pv[i]) >> 1)) & 0xFF
            else:
                for i in range(row_len):
                    a = cur[i - ch] if i >= ch else 0
                    b = pv[i]
                    c = pv[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (ln[i] + pred) & 0xFF
            out[r] = cur
    return out.reshape(h, w, ch)


# --- JPEG (baseline sequential, pure numpy: DCT + Huffman; no codec lib) ----
#
# Baseline JPEG (ITU-T T.81 / ISO 10918-1) is numpy-tractable the same
# way PNG was zlib-tractable: the only moving parts are an 8x8 DCT
# (one orthogonal matrix), scalar quantization, zigzag run-length
# coding, and canonical Huffman — all fully specified in the public
# standard (Annex K carries the example quant + Huffman tables used
# below, the same constants every libjpeg-compatible encoder ships).
# The encoder emits genuine interchange-format files (SOI/APP0/DQT/
# SOF0/DHT/SOS/EOI, byte-stuffed entropy stream); the decoder walks the
# real marker stream, rebuilds the Huffman DECODE tables from DHT
# segments (so it reads third-party baseline files, not just its own),
# and supports grayscale, 4:4:4 and 4:2:0 YCbCr, plus restart
# intervals.  Progressive (SOF2) and the other non-baseline frame
# types raise a descriptive error — Pillow slots in for those where it
# exists (it does not in this container).
#
# Lossiness and oracles: JPEG is lossy in general, but a block-constant
# image under a quant table whose DC step divides 8*(v-128) round-trips
# EXACTLY (a constant block has one nonzero coefficient, F00 =
# 8*(v-128); with q_DC = 8 the quantizer is lossless on it, and the
# IDCT of a DC-only block is constant F00/8).  The declared query
# exploits this: text bytes become block-constant gray values, so the
# decode is bit-exact and a DuckDB oracle can reason about the decoded
# sums via ascii() arithmetic even though the wire bytes went through
# the full DCT + Huffman machinery.  Reference analog: the media-
# adjacent payload handling in scripts/hydrate_vectors.py:72-95.

_JPEG_ZIGZAG = np.array(
    [
         0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_JPEG_UNZIGZAG = np.argsort(_JPEG_ZIGZAG)

# Annex K.1 example quantization tables (natural order)
_JPEG_QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_JPEG_QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 example Huffman tables: (BITS[1..16], HUFFVAL)
_JPEG_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_JPEG_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

_DCT_T = None


def _dct_matrix() -> np.ndarray:
    """The orthogonal 8x8 DCT-II matrix T with T[u,x] =
    (C(u)/2)cos((2x+1)u*pi/16): F = T @ f @ T.T is the spec's FDCT and
    f = T.T @ F @ T its exact inverse."""
    global _DCT_T
    if _DCT_T is None:
        x = np.arange(8, dtype=np.float64)
        t = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
        t[0, :] *= 1 / np.sqrt(2)
        _DCT_T = t
    return _DCT_T


def _jpeg_scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """Annex-K table scaled by the conventional quality knob (the
    linear 5000/Q | 200-2Q mapping used across libjpeg-compatible
    encoders), clamped to the baseline's 1..255 byte range."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int64)


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from a (BITS, HUFFVAL) spec pair via the
    canonical code assignment (T.81 C.2)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code, k = code + 1, k + 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with the entropy stream's 0xFF byte
    stuffing; flush pads the final partial byte with 1-bits (T.81
    F.1.2.3).

    ``write`` only RECORDS the (value, length) field — two list
    appends; all bit packing and byte stuffing happen vectorized in
    one numpy pass at ``flush`` (the per-call shift/mask/stuff loop
    was the encoder's single largest profile line at media-table
    symbol counts: ~190k calls per 150 images)."""

    def __init__(self) -> None:
        self.codes: list[int] = []
        self.lens: list[int] = []
        self._chunks: list[tuple[np.ndarray, np.ndarray]] = []

    def write(self, code: int, length: int) -> None:
        self.codes.append(code)
        self.lens.append(length)

    def write_fields(self, codes: np.ndarray, lens: np.ndarray) -> None:
        """Record a whole (code, length) field ARRAY in one call — the
        vectorized scan encoder emits every field of a scan at once, so
        the per-symbol ``write`` call disappears from the hot path."""
        if self.codes:  # preserve interleaving with any scalar writes
            self._chunks.append(
                (np.array(self.codes, dtype=np.int64), np.array(self.lens, dtype=np.int64))
            )
            self.codes, self.lens = [], []
        self._chunks.append((np.asarray(codes, np.int64), np.asarray(lens, np.int64)))

    def flush(self) -> bytes:
        if self._chunks:
            self.write_fields(np.empty(0, np.int64), np.empty(0, np.int64))
            codes = np.concatenate([c for c, _ in self._chunks])
            lens = np.concatenate([l for _, l in self._chunks])
        else:
            codes = np.array(self.codes, dtype=np.int64)
            lens = np.array(self.lens, dtype=np.int64)
        total = int(lens.sum())
        if not total:
            return b""
        pad = -total % 8
        if pad:  # fill the final byte with 1-bits
            codes = np.append(codes, (1 << pad) - 1)
            lens = np.append(lens, pad)
            total += pad
        vals = codes & ((1 << lens) - 1)
        # bit-expand: bit i of the stream belongs to field fi[i] and is
        # that field's (end - 1 - i)-th value bit
        ends = np.cumsum(lens)
        fi = np.repeat(np.arange(lens.size), lens)
        bits = (vals[fi] >> (ends[fi] - 1 - np.arange(total))) & 1
        by = np.packbits(bits.astype(np.uint8))
        # byte stuffing: a 0x00 after every 0xFF
        ff = by == 0xFF
        if ff.any():
            out = np.zeros(by.size + int(ff.sum()), dtype=np.uint8)
            out[np.arange(by.size) + np.cumsum(ff) - ff] = by
            by = out
        return by.tobytes()


def _jpeg_cat(v: int) -> int:
    """Magnitude category (bit length of |v|) — the SSSS of T.81 F.1.2."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _quantized_blocks(plane: np.ndarray, quant: np.ndarray) -> tuple[np.ndarray, int, int]:
    """(H, W) uint8 plane -> (by, bx, 64) int32 quantized zigzagged DCT
    coefficients, edge-replicating to 8-multiples first."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    by, bx = hh // 8, ww // 8
    blocks = (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8).astype(np.float64)
        - 128.0
    )
    t = _dct_matrix()
    # t @ f @ t.T per block — batched matmul instead of einsum: einsum
    # re-ran its contraction-path search on every call (measured ~25%
    # of the per-image encode at media-table block counts)
    coef = np.matmul(np.matmul(t, blocks), t.T)
    q = np.round(coef / quant.reshape(8, 8)).astype(np.int64)
    return q.reshape(by, bx, 64)[:, :, _JPEG_ZIGZAG], by, bx


def _encode_block(
    bw: _JpegBitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    last: int | None = None,
) -> int:
    """Entropy-encode one zigzagged quantized block (T.81 F.1.2): DC
    difference category + bits, AC run/size pairs with ZRL and EOB.
    Returns the block's DC for the next prediction.  The Python loop
    runs only up to the LAST nonzero coefficient (index ``last``,
    0 = no AC) — encode_jpeg precomputes it for ALL blocks in one
    vectorized pass (a per-block np.nonzero was the encoder's
    second-largest profile line); None recomputes it here for direct
    callers."""
    if last is None:
        nz = np.nonzero(zz[1:])[0]
        last = int(nz[-1]) + 1 if nz.size else 0
    vals = zz[: last + 1].tolist()
    diff = vals[0] - pred
    s = _jpeg_cat(diff)
    c, ln = dc_codes[s]
    if s:
        # code and magnitude bits fused into ONE writer field — write()
        # is the encoder's hottest call site and the packer handles any
        # length, so pairing halves its call count
        mag = (diff if diff > 0 else diff + (1 << s) - 1) & ((1 << s) - 1)
        bw.write((c << s) | mag, ln + s)
    else:
        bw.write(c, ln)
    run = 0
    for v in vals[1:]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])  # ZRL: 16 zeros
            run -= 16
        s = _jpeg_cat(v)
        c, ln = ac_codes[(run << 4) | s]
        mag = (v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1)
        bw.write((c << s) | mag, ln + s)
        run = 0
    if last < 63:
        bw.write(*ac_codes[0x00])  # EOB covers every trailing zero
    return vals[0]


def _seg(marker: int, body: bytes) -> bytes:
    import struct

    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _encode_dc_only(
    bw: _JpegBitWriter, dc: int, pred: int, dc_codes: dict[int, tuple[int, int]]
) -> int:
    """DC difference coding alone (the progressive DC-first scan's
    entropy unit; Al=0 in the scans this encoder emits)."""
    diff = dc - pred
    s = _jpeg_cat(diff)
    c, ln = dc_codes[s]
    if s:
        mag = (diff if diff > 0 else diff + (1 << s) - 1) & ((1 << s) - 1)
        bw.write((c << s) | mag, ln + s)
    else:
        bw.write(c, ln)
    return dc


def _encode_ac_band(
    bw: _JpegBitWriter,
    zz: np.ndarray,
    ss: int,
    se: int,
    ac_codes: dict[int, tuple[int, int]],
    last: int | None = None,
) -> None:
    """Run/size coding of one block's spectral band [ss..se] for a
    progressive AC-first scan (Al=0): ZRL for 16-zero runs, EOB (the
    EOB0 symbol) when the band ends in zeros.  This encoder never emits
    multi-block EOB runs — EOB0 per block is the always-valid case.
    ``last`` is the band-relative index of the last nonzero value
    (-1 = none), precomputed vectorized by encode_jpeg; None recomputes
    it here for direct callers."""
    band = zz[ss : se + 1]
    if last is None:
        nz = np.nonzero(band)[0]
        last = int(nz[-1]) if nz.size else -1
    if last < 0:
        bw.write(*ac_codes[0x00])
        return
    vals = band[: last + 1].tolist()
    run = 0
    for v in vals:
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])
            run -= 16
        s = _jpeg_cat(v)
        c, ln = ac_codes[(run << 4) | s]
        mag = (v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1)
        bw.write((c << s) | mag, ln + s)
        run = 0
    if len(vals) - 1 < se - ss:
        bw.write(*ac_codes[0x00])


def _huff_code_arrays(tab: dict[int, tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    """symbol -> (code, length) dict as gatherable arrays (length 0 =
    symbol absent, the vectorized encoder's KeyError stand-in)."""
    codes = np.zeros(256, np.int64)
    lens = np.zeros(256, np.int64)
    for sym, (c, ln) in tab.items():
        codes[sym], lens[sym] = c, ln
    return codes, lens


_JPEG_ENC_ARRAYS: tuple | None = None


def _jpeg_enc_arrays() -> tuple:
    """The four standard-table (codes, lens) gather arrays, built once
    (the Huffman tables are spec constants; only quant varies per call)."""
    global _JPEG_ENC_ARRAYS
    if _JPEG_ENC_ARRAYS is None:
        _JPEG_ENC_ARRAYS = tuple(
            _huff_code_arrays(_huff_encode_table(*spec))
            for spec in (_JPEG_DC_LUMA, _JPEG_AC_LUMA, _JPEG_DC_CHROMA, _JPEG_AC_CHROMA)
        )
    return _JPEG_ENC_ARRAYS


_STACKED_TABS: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def _stacked_tabs(tabs: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Stack per-component (codes, lens) gather arrays into 2-D gather
    tables, cached by content — `_scan_fields` runs up to 7 times per
    progressive image, and the per-call np.stack was measurable at
    media-table image counts."""
    key = tuple(t[0].tobytes() + t[1].tobytes() for t in tabs)
    v = _STACKED_TABS.get(key)
    if v is None:
        v = (np.stack([t[0] for t in tabs]), np.stack([t[1] for t in tabs]))
        _STACKED_TABS[key] = v
    return v


_CAT_LUT = None


def _cat_vec(v: np.ndarray) -> np.ndarray:
    """Vectorized magnitude category (bit length of |v|, T.81 F.1.2):
    one LUT gather for the 8-bit-sample coefficient range (|DC diff|
    <= 2 * 8 * 127 and |AC| <= 2040 under any 1..255 quant), with a
    bit-count fallback for out-of-range direct-caller values."""
    global _CAT_LUT
    if _CAT_LUT is None:
        _CAT_LUT = np.array([int(x).bit_length() for x in range(4096)], np.int64)
    a = np.abs(v)
    if a.size and int(a.max()) < 4096:
        return _CAT_LUT[a]
    s = np.zeros(v.shape, np.int64)
    for b in range(16):
        s += a >= (np.int64(1) << b)
    return s


def _mag_fields(v: np.ndarray, s: np.ndarray) -> np.ndarray:
    """Vectorized magnitude bits: v for positive, v + 2^s - 1 for
    negative, masked to s bits (the scalar encoders' fused-mag rule)."""
    full = (np.int64(1) << s) - 1
    return np.where(v > 0, v, v + full) & full


def _scan_fields(
    blocks: np.ndarray,
    comp: np.ndarray,
    dc_tabs: list[tuple[np.ndarray, np.ndarray]] | None,
    ac_tabs: list[tuple[np.ndarray, np.ndarray]] | None,
    lo: int = 1,
    hi: int = 63,
    iv: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Entropy-encode one whole scan VECTORIZED across blocks: given the
    scan's blocks in scan order (n, 64) with per-slot component indexes,
    emit every (code, length) field of the scan in a handful of numpy
    passes — DC difference chains per component, AC run/size pairs with
    ZRL and EOB — byte-for-byte the sequence the per-block scalar
    encoders (`_encode_block` / `_encode_dc_only` / `_encode_ac_band`)
    produce, which remain for direct callers and as the readable spec.
    ``dc_tabs=None`` skips DC (a progressive AC band scan, band
    [lo..hi]); ``ac_tabs=None`` skips AC (the progressive DC scan).
    Entropy coding has no serial dependency until bit packing (which
    `_JpegBitWriter.flush` already does in one pass), so the per-block
    Python loop was pure interpreter overhead — at media-table block
    counts (~250 blocks/doc) this pass is the encoder's hot path.
    ``iv`` (restart-interval id per block, non-decreasing) resets the
    DC prediction chains at interval boundaries and is propagated to a
    per-field interval array for `_pack_entropy`'s RSTn insertion."""
    n = blocks.shape[0]
    empty = np.empty(0, np.int64)
    if not n:
        return empty, empty, (empty if iv is not None else None)
    dcp = 1 if dc_tabs is not None else 0
    if dcp:
        dc = blocks[:, 0].astype(np.int64)
        diff = np.empty(n, np.int64)
        for ci in range(int(comp.max()) + 1 if n else 0):
            idx = np.flatnonzero(comp == ci)
            if idx.size:
                vals = dc[idx]
                d = vals - np.concatenate(([0], vals[:-1]))
                if iv is not None:
                    ivc = iv[idx]
                    restart_first = np.empty(idx.size, bool)
                    restart_first[:1] = True
                    restart_first[1:] = ivc[1:] != ivc[:-1]
                    d = np.where(restart_first, vals, d)
                diff[idx] = d
        s = _cat_vec(diff)
        dcodes, dlens = _stacked_tabs(dc_tabs)
        gl = dlens[comp, s]
        if not gl.all():
            raise KeyError(int(s[np.argmin(gl)]))
        dc_code = (dcodes[comp, s] << s) | _mag_fields(diff, s)
        dc_len = gl + s
    if ac_tabs is None:
        return dc_code, dc_len, (iv.astype(np.int64) if iv is not None else None)
    band_len = hi - lo + 1
    ac = blocks[:, lo : hi + 1]
    bi, pos = np.nonzero(ac)  # row-major == (block, zigzag) scan order
    v = ac[bi, pos].astype(np.int64)
    ncomp = comp[bi]
    first = np.empty(bi.shape, bool)
    first[:1] = True
    first[1:] = bi[1:] != bi[:-1]
    prev = np.empty_like(pos)
    prev[:1] = 0
    prev[1:] = pos[:-1]
    run = np.where(first, pos, pos - prev - 1).astype(np.int64)
    nzrl, rem = run >> 4, run & 15
    s = _cat_vec(v)
    acodes, alens = _stacked_tabs(ac_tabs)
    sym = (rem << 4) | s
    gl = alens[ncomp, sym]
    if bi.size and not gl.all():
        raise KeyError(int(sym[np.argmin(gl)]))
    ac_code = (acodes[ncomp, sym] << s) | _mag_fields(v, s)
    ac_len = gl + s
    # per-block slot accounting: [DC?] then per nonzero (ZRL*nzrl, field)
    # then [EOB?]; un-scattered slots are exactly the ZRL slots
    nnz = np.bincount(bi, minlength=n)
    zrl_blk = (
        np.bincount(bi, weights=nzrl.astype(np.float64), minlength=n).astype(np.int64)
        if bi.size
        else np.zeros(n, np.int64)
    )
    lastrel = np.full(n, -1, np.int64)
    lastrel[bi] = pos  # duplicate-index assign keeps the last (max) pos
    has_eob = lastrel < band_len - 1
    nslots = dcp + nnz + zrl_blk + has_eob
    starts = np.concatenate(([0], np.cumsum(nslots)[:-1]))
    slot_comp = np.repeat(comp, nslots)
    out_code = acodes[slot_comp, 0xF0].copy()
    out_len = alens[slot_comp, 0xF0].copy()
    if dcp:
        out_code[starts], out_len[starts] = dc_code, dc_len
    if bi.size:
        width = nzrl + 1
        before = np.cumsum(width) - width
        fidx = np.searchsorted(bi, bi, "left")
        ac_slot = starts[bi] + dcp + (before - before[fidx]) + nzrl
        out_code[ac_slot], out_len[ac_slot] = ac_code, ac_len
    eidx = np.flatnonzero(has_eob)
    eslot = starts[eidx] + nslots[eidx] - 1
    out_code[eslot] = acodes[comp[eidx], 0x00]
    out_len[eslot] = alens[comp[eidx], 0x00]
    slot_iv = np.repeat(iv.astype(np.int64), nslots) if iv is not None else None
    return out_code, out_len, slot_iv


def _pack_entropy(codes: np.ndarray, lens: np.ndarray, slot_iv: np.ndarray, rst_from: int = 0) -> bytes:
    """Pack a scan's (code, length) fields into entropy bytes with
    RESTART intervals: each interval's bits are 1-padded to a byte
    boundary (T.81 F.1.2.3), stuffing is applied globally, and RSTn
    markers (cycling D0..D7 from ``rst_from``) separate consecutive
    intervals — the whole pack stays one vectorized pass plus one
    cheap per-interval splice."""
    niv = int(slot_iv[-1]) + 1 if slot_iv.size else 0
    if niv <= 1:
        bw = _JpegBitWriter()
        bw.write_fields(codes, lens)
        return bw.flush()
    # insert a pad field after each interval's last slot
    counts = np.bincount(slot_iv, minlength=niv)
    bits_iv = np.bincount(slot_iv, weights=lens.astype(np.float64), minlength=niv).astype(np.int64)
    pad = (-bits_iv) % 8
    ends = np.cumsum(counts)
    codes = np.insert(codes, ends, (np.int64(1) << pad) - 1)
    lens = np.insert(lens, ends, pad)
    total = int(lens.sum())
    vals = codes & ((np.int64(1) << lens) - 1)
    cends = np.cumsum(lens)
    fi = np.repeat(np.arange(lens.size), lens)
    bits = (vals[fi] >> (cends[fi] - 1 - np.arange(total))) & 1
    by = np.packbits(bits.astype(np.uint8))
    # per-interval byte boundaries BEFORE stuffing
    bound = np.cumsum((bits_iv + pad) >> 3)
    ff = by == 0xFF
    if ff.any():
        out = np.zeros(by.size + int(ff.sum()), dtype=np.uint8)
        out[np.arange(by.size) + np.cumsum(ff) - ff] = by
        pf = np.concatenate(([0], np.cumsum(ff)))
        sbound = bound + pf[bound]
        by = out
    else:
        sbound = bound
    raw = by.tobytes()
    parts = []
    prev = 0
    for k in range(niv):
        parts.append(raw[prev : sbound[k]])
        if k < niv - 1:
            parts.append(bytes((0xFF, 0xD0 + ((rst_from + k) % 8))))
        prev = sbound[k]
    return b"".join(parts)


def encode_jpeg(
    img: np.ndarray,
    quality: int = 75,
    subsample: str = "4:2:0",
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    progressive: bool = False,
    restart_interval: int | None = None,
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> a real JPEG file (T.81
    interchange format: SOI/APP0/DQT/SOF/DHT/SOS/EOI, Annex-K Huffman
    tables, byte-stuffed entropy stream).  ``quality`` scales the
    Annex-K quant tables unless explicit tables are passed (the
    exact-round-trip query passes all-8s so the DC quantizer is
    lossless on block-constant images).  ``subsample`` is '4:2:0' or
    '4:4:4' (color only).  ``progressive=True`` emits an SOF2
    spectral-selection file — one interleaved DC scan, then per-
    component AC band scans (1-5, 6-63), each its own byte-aligned
    entropy segment; the quantized coefficients are IDENTICAL to the
    baseline file's, only their scan order differs.
    ``restart_interval`` (MCUs) emits a DRI segment and RSTn markers in
    EVERY scan — each interval is an independently decodable bitstream
    (byte-aligned, DC predictions and EOB runs reset), which is what
    lets `_decode_jpeg_batch` entropy-decode all intervals in lockstep
    instead of serially (the same property libjpeg-turbo and GPU
    decoders exploit for parallel decode)."""
    import struct

    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"need (h,w) gray or (h,w,3) RGB, got shape {img.shape}")
    if subsample not in ("4:2:0", "4:4:4"):
        raise ValueError(f"unsupported subsampling {subsample!r}")
    h, w = img.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    ql = _JPEG_QUANT_LUMA if quant_luma is None else np.asarray(quant_luma, dtype=np.int64)
    qc = _JPEG_QUANT_CHROMA if quant_chroma is None else np.asarray(quant_chroma, dtype=np.int64)
    if quant_luma is None:
        ql = _jpeg_scaled_quant(ql, quality)
    if quant_chroma is None:
        qc = _jpeg_scaled_quant(qc, quality)

    if gray:
        planes = [img.astype(np.float64)]
    else:
        r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    planes = [np.clip(np.round(p), 0, 255).astype(np.uint8) for p in planes]

    two_by_two = not gray and subsample == "4:2:0"
    if two_by_two:
        # pad Y to 16-multiples (full MCUs), then 2x2-mean the chroma
        ph, pw = -h % 16, -w % 16
        if ph or pw:
            planes = [np.pad(p, ((0, ph), (0, pw)), mode="edge") for p in planes]
        def _mean2x2(p: np.ndarray) -> np.ndarray:
            # integer 2x2 mean replicating np.round's half-to-even on
            # the exact .5 case (sum % 4 == 2): all-int, no float pass
            s = (
                p[0::2, 0::2].astype(np.int64)
                + p[0::2, 1::2]
                + p[1::2, 0::2]
                + p[1::2, 1::2]
            )
            base = s >> 2
            return np.where((s & 3) == 2, base + (base & 1), (s + 2) >> 2).astype(np.uint8)

        planes[1:] = [_mean2x2(p) for p in planes[1:]]

    comp_q = [ql] if gray else [ql, qc, qc]
    zz = [_quantized_blocks(p, q) for p, q in zip(planes, comp_q)]

    dcl_a, acl_a, dcc_a, acc_a = _jpeg_enc_arrays()
    dc_tabs = [dcl_a] if gray else [dcl_a, dcc_a, dcc_a]
    ac_tabs = [acl_a] if gray else [acl_a, acc_a, acc_a]

    # the whole scan's blocks in scan order + per-slot component index —
    # the vectorized scan encoder replaces the per-block Python loops
    # (`_encode_block` and friends stay as the readable per-block spec
    # for direct callers/tests; byte-identity is pinned by
    # test_jpeg_vectorized_encoder_matches_scalar)
    if gray:
        order = zz[0][0].reshape(-1, 64)
        comp = np.zeros(order.shape[0], np.int64)
    elif subsample == "4:4:4":
        by, bx = zz[0][1], zz[0][2]
        order = np.stack([z[0] for z in zz], axis=2).reshape(-1, 64)
        comp = np.tile(np.arange(3, dtype=np.int64), by * bx)
    else:  # 4:2:0: 4 luma blocks (row-major in the MCU) then Cb, Cr
        mby, mbx = zz[1][1], zz[1][2]  # chroma block grid == MCU grid
        luma4 = (
            zz[0][0]
            .reshape(mby, 2, mbx, 2, 64)
            .transpose(0, 2, 1, 3, 4)
            .reshape(mby, mbx, 4, 64)
        )
        order = np.concatenate(
            [luma4, zz[1][0][:, :, None, :], zz[2][0][:, :, None, :]], axis=2
        ).reshape(-1, 64)
        comp = np.tile(np.array([0, 0, 0, 0, 1, 2], np.int64), mby * mbx)

    ncomp = 1 if gray else 3
    rst = restart_interval
    if rst is not None and rst < 1:
        raise ValueError(f"restart_interval must be >= 1 MCU, got {rst}")
    bpm = 1 if gray else (3 if subsample == "4:4:4" else 6)
    iv_inter = (
        (np.arange(order.shape[0], dtype=np.int64) // bpm) // rst if rst else None
    )

    def _scan_bytes(blocks, comps, dct, act, lo, hi, iv_blocks):
        codes, lens_, slot_iv = _scan_fields(blocks, comps, dct, act, lo, hi, iv_blocks)
        if iv_blocks is not None:
            return _pack_entropy(codes, lens_, slot_iv)
        bw = _JpegBitWriter()
        if codes.size:
            bw.write_fields(codes, lens_)
        return bw.flush()

    scans: list[bytes] = []
    if not progressive:
        sos_body = bytes([ncomp])
        for ci in range(ncomp):
            sos_body += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
        sos_body += bytes([0, 63, 0])
        scans.append(
            _seg(0xDA, sos_body) + _scan_bytes(order, comp, dc_tabs, ac_tabs, 1, 63, iv_inter)
        )
    else:
        # scan 1: DC, all components interleaved (Ss=Se=0, Ah=Al=0)
        sos_body = bytes([ncomp])
        for ci in range(ncomp):
            sos_body += bytes([ci + 1, (0x00 if ci == 0 else 0x11) & 0xF0])  # DC table only
        sos_body += bytes([0, 0, 0])
        scans.append(
            _seg(0xDA, sos_body) + _scan_bytes(order, comp, dc_tabs, None, 1, 63, iv_inter)
        )
        # AC band scans, one component at a time, over the component's
        # NON-INTERLEAVED block grid (ceil(dim*sampling/hmax / 8)) —
        # 4:2:0 luma planes are padded to whole MCUs, so the grid can
        # be one block wider/taller than the non-interleaved dims and
        # those pad blocks stay DC-only (the decoder expects exactly
        # this; they are cropped after IDCT)
        for ci, (blocks, gby, gbx) in enumerate(zz):
            if gray or subsample == "4:4:4":
                nby, nbx = gby, gbx
            elif ci == 0:  # 4:2:0 luma: non-interleaved dims from ORIGINAL size
                nby, nbx = -(-h // 8), -(-w // 8)
            else:  # 4:2:0 chroma: ceil(ceil(dim/2)/8) == the MCU grid
                nby, nbx = gby, gbx
            band_blocks = blocks[:nby, :nbx].reshape(-1, 64)
            # non-interleaved scan: MCU = one block, so the restart
            # interval counts single blocks here (T.81 B.2.4.4)
            iv_band = (
                np.arange(band_blocks.shape[0], dtype=np.int64) // rst if rst else None
            )
            for ss_, se_ in ((1, 5), (6, 63)):
                sos_body = bytes([1, ci + 1, 0x00 if ci == 0 else 0x11])
                sos_body += bytes([ss_, se_, 0])
                scans.append(
                    _seg(0xDA, sos_body)
                    + _scan_bytes(
                        band_blocks,
                        np.zeros(band_blocks.shape[0], np.int64),
                        None,
                        [ac_tabs[ci]],
                        ss_,
                        se_,
                        iv_band,
                    )
                )

    app0 = b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    dqt = _seg(0xDB, b"\x00" + bytes(ql[_JPEG_ZIGZAG].tolist()))
    if not gray:
        dqt += _seg(0xDB, b"\x01" + bytes(qc[_JPEG_ZIGZAG].tolist()))
    samp = (0x11, 0x11, 0x11) if (gray or subsample == "4:4:4") else (0x22, 0x11, 0x11)
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof_body += bytes([ci + 1, samp[ci], 0 if ci == 0 else 1])
    dht = _seg(0xC4, bytes([0x00] + _JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1]))
    dht += _seg(0xC4, bytes([0x10] + _JPEG_AC_LUMA[0]) + bytes(_JPEG_AC_LUMA[1]))
    if not gray:
        dht += _seg(0xC4, bytes([0x01] + _JPEG_DC_CHROMA[0]) + bytes(_JPEG_DC_CHROMA[1]))
        dht += _seg(0xC4, bytes([0x11] + _JPEG_AC_CHROMA[0]) + bytes(_JPEG_AC_CHROMA[1]))
    dri = _seg(0xDD, struct.pack(">H", rst)) if rst else b""
    return (
        b"\xff\xd8"
        + _seg(0xE0, app0)
        + dqt
        + _seg(0xC2 if progressive else 0xC0, sof_body)
        + dht
        + dri
        + b"".join(scans)
        + b"\xff\xd9"
    )


class _JpegHuffTable:
    """Canonical-Huffman DECODE tables (T.81 F.2.2.3): per code length,
    the smallest/largest code and the offset into HUFFVAL — plus an
    8-bit first-level lookup table (the classic fast-Huffman layout):
    ``lut[next 8 bits] = (length << 8) | symbol`` for every code of
    length <= 8, 0 for longer codes (which fall back to the canonical
    walk).  JPEG's standard tables put all the hot symbols (DC
    categories, EOB, low run/size pairs) well inside 8 bits, so the
    per-symbol cost drops from a per-bit compare loop to one peek +
    one list index."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.vals = list(vals)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.lut = [0] * 256
        code, k = 0, 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                if length <= 8:
                    for i in range(n):
                        lo = (code + i) << (8 - length)
                        entry = (length << 8) | (vals[k + i] & 0xFF)
                        for j in range(lo, lo + (1 << (8 - length))):
                            self.lut[j] = entry
                code += n
                k += n
                self.maxcode[length] = code - 1
            code <<= 1
        if k != len(self.vals):
            raise ValueError(f"DHT declares {k} symbols but carries {len(self.vals)}")


class _JpegBitReader:
    """MSB-first bit reader over the entropy segment: un-stuffs
    0xFF00, stops at any real marker (exposing it for the restart
    handler), and raises on truncation.

    Refills in BULK (a 32-bit quantum per ``_fill_to``) and masks the
    accumulator down to the live bits on every refill — the original
    byte-at-a-time fill paid a Python method call per 8 bits AND let
    ``acc`` grow into an unbounded bigint (consumed high bits were
    never shed, so every shift got slower as the scan progressed).
    Read-ahead is safe: the fill stops at any real marker, so the
    post-scan byte position still lands exactly on the next marker."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill_to(self, want: int) -> None:
        """Refill until >= max(want, 32) bits are buffered, stopping
        early (without raising) at a real marker or the payload end —
        callers check ``n`` and use :meth:`_raise_end` for the loud
        truncation contract."""
        d, ln = self.d, len(self.d)
        p, n = self.p, self.n
        acc = self.acc & ((1 << n) - 1)  # shed consumed high bits
        want = want if want > 32 else 32
        while n < want:
            if self.marker is not None or p >= ln:
                break
            b = d[p]
            if b == 0xFF:
                if p + 1 >= ln:
                    break  # dangling 0xFF: surfaces as truncation
                nxt = d[p + 1]
                if nxt == 0x00:
                    p += 2
                else:
                    self.marker = nxt
                    break
            else:
                p += 1
            acc = (acc << 8) | b
            n += 8
        self.p, self.acc, self.n = p, acc, n

    def _raise_end(self) -> None:
        if self.marker is not None:
            raise ValueError(
                f"truncated JPEG: hit marker 0x{self.marker:02x} inside an entropy run"
            )
        raise ValueError("truncated JPEG: entropy stream ran off the payload")

    def bit(self) -> int:
        n = self.n
        if not n:
            self._fill_to(1)
            n = self.n
            if not n:
                self._raise_end()
        n -= 1
        self.n = n
        return (self.acc >> n) & 1

    def bits(self, count: int) -> int:
        if not count:
            return 0
        n = self.n
        if n < count:
            self._fill_to(count)
            n = self.n
            if n < count:
                self._raise_end()
        n -= count
        self.n = n
        return (self.acc >> n) & ((1 << count) - 1)

    def align_and_expect_rst(self, which: int) -> None:
        """Byte-align and consume the next RSTn marker (restart
        intervals reset the bit phase and DC predictions).  Bulk
        read-ahead may already have parked on the marker (``marker``
        set, ``p`` at its 0xFF) — clear it so the next interval's
        fills proceed."""
        self.n = 0
        self.marker = None
        if self.p + 1 >= len(self.d) or self.d[self.p] != 0xFF:
            raise ValueError("JPEG restart interval: expected RST marker")
        m = self.d[self.p + 1]
        if m != 0xD0 + (which % 8):
            raise ValueError(f"JPEG restart interval: expected RST{which % 8}, got 0x{m:02x}")
        self.p += 2


def _jpeg_decode_symbol(br: _JpegBitReader, tab: _JpegHuffTable) -> int:
    # fast path: one 8-bit peek into the table's first-level LUT
    n = br.n
    if n < 16:
        br._fill_to(16)
        n = br.n
    if n >= 8:
        e = tab.lut[(br.acc >> (n - 8)) & 0xFF]
        if e:
            br.n = n - (e >> 8)
            return e & 0xFF
    elif n:
        # stream tail: left-align what's left; a LUT hit is only valid
        # if the code fits the remaining bits
        e = tab.lut[(br.acc << (8 - n)) & 0xFF]
        if e and (e >> 8) <= n:
            br.n = n - (e >> 8)
            return e & 0xFF
    # slow path: canonical per-length walk (codes longer than 8 bits,
    # or a tail too short for the fast path — the walk raises the
    # loud truncation/corruption errors)
    code, length = br.bit(), 1
    while code > tab.maxcode[length]:
        length += 1
        if length > 16:
            raise ValueError("corrupt JPEG: Huffman code longer than 16 bits")
        code = (code << 1) | br.bit()
    return tab.vals[tab.valptr[length] + code - tab.mincode[length]]


def _jpeg_extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_decode_block(
    br: _JpegBitReader, dct: _JpegHuffTable, act: _JpegHuffTable, pred: int, out: np.ndarray
) -> int:
    """Decode one block's 64 zigzagged coefficients into ``out``;
    returns the new DC prediction.

    This is the sequential scan's hot loop (every block of every
    baseline image runs through it), so the bit reader is INLINED into
    local integers — per-bit method calls measured ~3x slower across a
    media-table decode.  The reader's (p, acc, n) state is pulled into
    locals, refilled ≥16 bits at a time with the 0xFF00 un-stuffing
    done inline, and written back on every exit path."""
    d = br.d
    ln = len(d)
    p, acc, n = br.p, br.acc, br.n
    dc = pred
    k = 0
    try:
        for tab, is_dc in ((dct, True), (act, False)):
            maxc, minc, vptr, tvals = tab.maxcode, tab.mincode, tab.valptr, tab.vals
            while True:
                # refill to 32 bits (a symbol is <=16 and its magnitude
                # bits <=11 more, consumed before the next refill),
                # stopping early at a marker
                while n < 32 and p < ln:
                    b = d[p]
                    if b == 0xFF:
                        if p + 1 < ln and d[p + 1] == 0x00:
                            p += 2
                        else:
                            break  # real marker: no more data bits
                    else:
                        p += 1
                    acc = (acc << 8) | b
                    n += 8
                if n < 1:
                    raise ValueError("truncated JPEG: entropy stream exhausted mid-block")
                code = (acc >> (n - 1)) & 1
                length = 1
                while code > maxc[length]:
                    length += 1
                    if length > 16 or length > n:
                        raise ValueError("corrupt JPEG: bad Huffman code in block")
                    code = (code << 1) | ((acc >> (n - length)) & 1)
                n -= length
                rs = tvals[vptr[length] + code - minc[length]]
                if is_dc:
                    s = rs
                    if s:
                        if s > 11:
                            # a forged DHT can carry any byte as a DC
                            # "category"; >11 is out of 8-bit spec range
                            # and would overflow the int64 grid
                            raise ValueError(f"corrupt JPEG: DC category {s} out of range")
                        if n < s:
                            raise ValueError("truncated JPEG: DC magnitude bits missing")
                        v = (acc >> (n - s)) & ((1 << s) - 1)
                        n -= s
                        dc = pred + (v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                    out[0] = dc
                    k = 1
                    break  # one DC symbol, then the AC loop
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16
                        if k < 64:
                            continue
                    break  # EOB (or ZRL landed exactly at 64)
                k += r
                if k > 63:
                    raise ValueError("corrupt JPEG: AC run past coefficient 63")
                if n < s:
                    raise ValueError("truncated JPEG: AC magnitude bits missing")
                v = (acc >> (n - s)) & ((1 << s) - 1)
                n -= s
                out[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                k += 1
                if k > 63:
                    break
    finally:
        br.p, br.acc, br.n = p, acc & ((1 << n) - 1), n
    return dc


def _jpeg_ac_first(
    br: _JpegBitReader, act: _JpegHuffTable, blk: np.ndarray, ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC 'first' scan for one block's band [ss..se] (T.81
    G.1.2.2): run/size pairs as in sequential coding, plus EOBn symbols
    (s=0, r<15) establishing an end-of-band RUN over 2^r + receive(r)
    blocks.  Returns the remaining eobrun."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _jpeg_decode_symbol(br, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                return eobrun
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("corrupt JPEG: AC run past the scan's spectral band")
            blk[k] = _jpeg_extend(br.bits(s), s) << al
            k += 1
    return 0


def _jpeg_ac_refine(
    br: _JpegBitReader, act: _JpegHuffTable, blk: np.ndarray, ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC refinement scan for one block (T.81 G.1.2.3):
    newly nonzero coefficients arrive as run/1 symbols with a sign bit,
    and every already-nonzero coefficient crossed on the way emits one
    correction bit (appended at magnitude bit ``al``)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _jpeg_decode_symbol(br, act)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # r == 15: skip 16 zero-history coefficients below
            else:
                if s != 1:
                    raise ValueError("corrupt JPEG: AC refinement size must be 1")
                val = p1 if br.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if br.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError("corrupt JPEG: refinement run past the band")
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0 and br.bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_decode_scan(
    payload: bytes,
    pos: int,
    frame: dict,
    scomps: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    huff: dict,
    restart: int,
    grids: dict,
) -> int:
    """Decode ONE entropy-coded scan (sequential full-band, progressive
    DC first/refine, or progressive AC first/refine), writing zigzagged
    coefficients into the per-component ``grids``.  Returns the byte
    position just past the scan's entropy data, where the marker walk
    resumes (DHT/DQT may be redefined between scans)."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    fh, fw = frame["h"], frame["w"]
    if len(scomps) > 1:
        mcux = -(-fw // (8 * hmax))
        mcuy = -(-fh // (8 * vmax))
        order = [(c, td, ta, (c["h"], c["v"])) for c, td, ta in scomps]
    else:
        # non-interleaved: MCU is one block; component dims = ceil(
        # frame_dim * sampling / max_sampling), then ceil-to-blocks
        c = scomps[0][0]
        mcux = -(-(fw * c["h"] // hmax + ((fw * c["h"]) % hmax > 0)) // 8)
        mcuy = -(-(fh * c["v"] // vmax + ((fh * c["v"]) % vmax > 0)) // 8)
        order = [(c, scomps[0][1], scomps[0][2], None)]

    sequential = ss == 0 and se == 63 and ah == 0 and al == 0
    br = _JpegBitReader(payload, pos)
    preds = {c["id"]: 0 for c, _, _, _ in order}
    eobrun = 0
    n_rst = 0
    done = 0
    coef = np.zeros(64, dtype=np.int64)
    # per-component invariants hoisted out of the MCU loop (the reps
    # list and two table lookups were rebuilt per component per MCU —
    # measured as the scan loop's largest own-time line), and the
    # missing-DHT checks run ONCE per scan instead of per block
    comp_plan = []
    for c, td, ta, hv in order:
        dct = huff.get((0, td))
        act = huff.get((1, ta))
        if sequential and (dct is None or act is None):
            raise ValueError(f"corrupt JPEG: scan references missing DHT {td}/{ta}")
        if not sequential and ss == 0 and ah == 0 and dct is None:
            raise ValueError(f"corrupt JPEG: scan references missing DHT {td}")
        if not sequential and ss != 0 and act is None:
            raise ValueError(f"corrupt JPEG: scan references missing DHT {ta}")
        reps = (
            ((0, 0),)
            if hv is None
            else tuple((dy, dx) for dy in range(hv[1]) for dx in range(hv[0]))
        )
        comp_plan.append((c["id"], dct, act, hv, reps, grids[c["id"]]))
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and done and done % restart == 0:
                br.align_and_expect_rst(n_rst)
                n_rst += 1
                preds = {cid: 0 for cid in preds}
                eobrun = 0
            for cid, dct, act, hv, reps, grid in comp_plan:
                for dy, dx in reps:
                    gy = my if hv is None else my * hv[1] + dy
                    gx = mx if hv is None else mx * hv[0] + dx
                    blk = grid[gy, gx]
                    if sequential:
                        coef[:] = 0
                        preds[cid] = _jpeg_decode_block(br, dct, act, preds[cid], coef)
                        blk[:] = coef
                    elif ss == 0 and ah == 0:  # progressive DC first
                        s = _jpeg_decode_symbol(br, dct)
                        if s > 11:
                            raise ValueError(f"corrupt JPEG: DC category {s} out of range")
                        preds[cid] += _jpeg_extend(br.bits(s), s) if s else 0
                        blk[0] = preds[cid] << al
                    elif ss == 0:  # progressive DC refinement: one bit per block
                        if br.bit():
                            blk[0] |= 1 << al
                    else:  # progressive AC scans are always single-component
                        if ah == 0:
                            eobrun = _jpeg_ac_first(br, act, blk, ss, se, al, eobrun)
                        else:
                            eobrun = _jpeg_ac_refine(br, act, blk, ss, se, al, eobrun)
            done += 1
    return br.p


# decode_real's fail-loudly contract: a corrupt payload raises
# ValueError, period.  8192x8192 bounds the coefficient grids a forged
# SOF header can make the decoder allocate (a 2-byte dim field can
# claim 65535x65535 = 34 GB of int64 grid — a decompression-bomb shape).
_JPEG_MAX_PIXELS = 1 << 26


def _decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes -> (h, w) gray or (h, w, 3) RGB uint8, pure numpy:
    marker walk, DHT-driven canonical Huffman decode, dequant,
    vectorized 8x8 IDCT, chroma upsample, YCbCr->RGB.  Supports
    SOF0/SOF1 (sequential) AND SOF2 (progressive — spectral selection +
    successive approximation, DC and AC first/refinement scans,
    EOB-run coding), 1-component and 3-component 4:4:4 / 4:2:0 / 4:2:2
    / 4:1:1, restart intervals, and mid-file DHT/DQT redefinition.
    Arithmetic-coded, lossless, hierarchical, and 12-bit frames raise
    descriptively — and so does EVERY malformed byte sequence: the
    whole parse is wrapped so struct/index errors from truncated or
    fuzzed segments surface as ValueError (the decode_real contract),
    property-tested by random byte-corruption fuzzing."""
    import struct

    try:
        return _decode_jpeg_inner(payload)
    except (struct.error, IndexError, OverflowError, MemoryError) as exc:
        # MemoryError belongs in the contract too: a forged header that
        # slips past the bomb guards must still surface as ValueError,
        # not OOM the worker
        raise ValueError(f"corrupt JPEG: malformed segment structure ({exc})") from exc


def _decode_jpeg_inner(payload: bytes) -> np.ndarray:
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI marker")
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _JpegHuffTable] = {}
    frame = None
    grids: dict[int, np.ndarray] = {}
    restart = 0
    pos = 2
    n_scans = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at byte {pos}")
        marker = payload[pos + 1] if pos + 1 < len(payload) else None
        if marker is None:
            raise ValueError("truncated JPEG: dangling 0xFF at end of payload")
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7 or marker == 0xFF:
            continue  # standalone / fill bytes
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG: marker segment missing its length")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        if seglen < 2 or pos + seglen > len(payload):
            raise ValueError(f"truncated JPEG: segment 0x{marker:02x} overruns payload")
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT — possibly several tables per segment
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("unsupported JPEG: 16-bit quantization tables")
                if i + 65 > len(body):
                    raise ValueError("truncated JPEG: DQT table cut short")
                tab = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8).astype(np.int64)
                quant[tq] = tab[_JPEG_UNZIGZAG]  # stored zigzagged; keep natural
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 sequential, SOF2 progressive
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"unsupported JPEG: {prec}-bit precision")
            if fh < 1 or fw < 1 or nc < 1:
                raise ValueError("corrupt JPEG: zero frame dimensions or components")
            if nc not in (1, 3):
                # reject at parse time, BEFORE grid allocation: a forged
                # SOF with nc up to 255 x 4x4 sampling would otherwise
                # request nc*16x the pixel bound in coefficient grids
                # (the decoder only supports grayscale/YCbCr anyway)
                raise ValueError(f"unsupported JPEG: {nc} components (only 1 or 3)")
            if fh * fw > _JPEG_MAX_PIXELS:
                raise ValueError(
                    f"JPEG dimensions {fw}x{fh} exceed the decoder's "
                    f"{_JPEG_MAX_PIXELS}-pixel bound (decompression-bomb guard)"
                )
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError(f"corrupt JPEG: sampling factors {ch}x{cv} out of range")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            hs = max(c["h"] for c in comps)
            vs = max(c["v"] for c in comps)
            if any(hs % c["h"] or vs % c["v"] for c in comps):
                raise ValueError("unsupported JPEG: non-integer chroma subsampling ratio")
            frame = {"h": fh, "w": fw, "comps": comps, "progressive": marker == 0xC2}
            # coefficient grids allocated ONCE at interleaved-padded
            # dims (ceil to whole MCUs) — progressive scans accumulate
            # into them across the whole file; non-interleaved scans
            # address the top-left sub-grid
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-fw // (8 * hmax))
            mcuy = -(-fh // (8 * vmax))
            total_cells = sum(mcuy * c["v"] * mcux * c["h"] * 64 for c in comps)
            if total_cells > 2 * _JPEG_MAX_PIXELS:
                # second bomb bound: fh*fw alone doesn't cap the grids —
                # a forged SOF with every component at 4x4 sampling pads
                # each grid to the full padded frame, so cap the summed
                # int64 coefficient cells at 2x the pixel bound (1 GiB):
                # admits max-pixel grayscale and 4:2:0/4:2:2; 4:4:4 tops
                # out at ~44M pixels instead of 67M
                raise ValueError(
                    f"JPEG coefficient grids ({total_cells} cells) exceed the "
                    f"decoder's {2 * _JPEG_MAX_PIXELS}-cell bound "
                    "(decompression-bomb guard)"
                )
            grids = {
                c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
                for c in comps
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type SOF marker 0x{marker:02x}")
        elif marker == 0xC4:  # DHT — possibly several tables per segment
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                huff[(tc, th)] = _JpegHuffTable(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — decode its entropy data inline,
            # then resume the marker walk right after it (progressive
            # files carry many scans, with DHT redefinitions between)
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = body[0]
            scomps = []
            for si in range(ns):
                cs, tda = body[1 + 2 * si : 3 + 2 * si]
                match = [c for c in frame["comps"] if c["id"] == cs]
                if not match:
                    raise ValueError(f"corrupt JPEG: scan names unknown component {cs}")
                scomps.append((match[0], tda >> 4, tda & 0x0F))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not frame["progressive"] and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("corrupt JPEG: sequential scan with progressive parameters")
            if frame["progressive"] and ss > 0 and ns != 1:
                raise ValueError("corrupt JPEG: progressive AC scan must be single-component")
            pos = _jpeg_decode_scan(
                payload, pos, frame, scomps, ss, se, ah, al, huff, restart, grids
            )
            n_scans += 1
        # else: APPn / COM / unknown — skipped via seglen
    if n_scans == 0:
        raise ValueError("JPEG has no SOS scan")
    return _jpeg_reconstruct(frame, quant, grids)


def _jpeg_reconstruct(
    frame: dict, quant: dict[int, np.ndarray], grids: dict[int, np.ndarray]
) -> np.ndarray:
    """Coefficient grids -> pixels: dequant, batched-matmul IDCT, plane
    assembly, chroma upsample, YCbCr->RGB — shared by the sequential
    per-payload decoder and the lockstep batch decoder (which differ
    only in how the entropy-coded coefficients were obtained)."""
    # dequant + vectorized IDCT per component, then plane assembly
    t = _dct_matrix()
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    fh, fw = frame["h"], frame["w"]
    planes = {}
    for c in comps:
        cid = c["id"]
        q = quant.get(c["tq"])
        if q is None:
            raise ValueError(f"corrupt JPEG: component {cid} references missing DQT {c['tq']}")
        g = grids[cid]
        by, bx = g.shape[:2]
        # g holds zigzag-order coefficients; q is ALREADY natural order
        # (un-zigzagged at DQT parse) — permute only the coefficients
        deq = (g[:, :, _JPEG_UNZIGZAG].astype(np.float64) * q).reshape(by, bx, 8, 8)
        # t.T @ F @ t per block (the exact inverse of the encoder's
        # t @ f @ t.T) — batched matmul for the same path-search reason
        # as _quantized_blocks
        pix = np.matmul(np.matmul(t.T, deq), t) + 128.0
        plane = np.clip(np.round(pix), 0, 255).astype(np.uint8)
        planes[cid] = plane.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)

    if len(comps) == 1:
        return planes[comps[0]["id"]][:fh, :fw]
    if len(comps) != 3:
        raise ValueError(f"unsupported JPEG: {len(comps)} components (1 or 3 only)")
    out = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out.append(p[:fh, :fw].astype(np.float64))
    y, cb, cr = out
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


_MALLOC_TUNED = False


def _tune_worker_malloc() -> None:
    """Raise glibc's mmap threshold once per worker process: the batch
    codec paths churn multi-MB numpy buffers per Arrow batch, and with
    32 worker processes the default allocator serves them as
    mmap/munmap pairs — freshly faulted pages every batch plus
    cross-process mmap-lock contention (measured: intermittent
    multi-second stalls in otherwise sub-100ms numpy passes).  Routing
    large blocks through the heap free-list trades bounded per-worker
    RSS (~peak working set) for allocation reuse.  No-op where glibc
    is unavailable."""
    global _MALLOC_TUNED
    if _MALLOC_TUNED:
        return
    _MALLOC_TUNED = True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 28)  # M_MMAP_THRESHOLD = -3
    except Exception:
        pass


_LUT16_CACHE: dict[bytes, np.ndarray] = {}


def _jpeg_lut16(bits: list[int], vals: list[int]) -> np.ndarray:
    """Full 16-bit Huffman decode LUT: ``lut[next 16 bits] =
    (symbol << 8) | code_length``, 0 = invalid prefix.  Every T.81 code
    is <= 16 bits, so ONE gather resolves any symbol — the lockstep
    decoder's whole per-symbol cost.  256 slice-fills to build, cached
    by table content (the standard tables repeat across every payload
    of a batch)."""
    key = bytes(bits) + b"|" + bytes(vals)
    lut = _LUT16_CACHE.get(key)
    if lut is None:
        lut = np.zeros(65536, np.int32)
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                lut[lo : lo + (1 << (16 - length))] = (vals[k] << 8) | length
                code += 1
                k += 1
            code <<= 1
        _LUT16_CACHE[key] = lut
    return lut


def _jpeg_split_intervals(arr: np.ndarray, start: int):
    """Split one scan's entropy bytes (payload[start:] up to the next
    real marker) into destuffed restart-interval byte runs in ONE
    masked copy: stuffed 0x00s and the RSTn marker pairs are deleted
    together, leaving the intervals tiled contiguously; boundaries are
    recovered by subtracting the deletion counts.  Returns (destuffed
    uint8 array, interval start offsets incl. end sentinel, absolute
    end position of the scan) or None when the stream is malformed or
    the RSTn cycle is broken (the caller falls back to the scalar
    decoder, which raises the descriptive error)."""
    sub = arr[start:]
    ffp = np.flatnonzero(sub == 0xFF)
    if ffp.size == 0 or ffp[-1] == sub.size - 1:
        return None  # no end marker / dangling 0xFF
    nxt = sub[ffp + 1]
    stuffed = nxt == 0x00
    rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    endm = ~stuffed & ~rst
    if not endm.any():
        return None
    end_rel = int(ffp[endm][0])
    cut = ffp < end_rel
    rstp = ffp[rst & cut]
    if not np.array_equal(sub[rstp + 1].astype(np.int64), 0xD0 + (np.arange(rstp.size) % 8)):
        return None
    stuffp = ffp[stuffed & cut] + 1  # the inserted 0x00s
    del_idx = np.sort(np.concatenate([stuffp, rstp, rstp + 1]))
    keep = np.ones(end_rel, bool)
    keep[del_idx] = False
    destuffed = sub[:end_rel][keep]
    bounds_src = np.concatenate(([0], rstp + 2, [end_rel]))
    bounds = bounds_src - np.searchsorted(del_idx, bounds_src)
    return destuffed, bounds.astype(np.int64), start + end_rel


def _parse_jpeg_lockstep(payload: bytes):
    """Marker walk deciding lockstep eligibility WITHOUT decoding any
    entropy data.  Eligible payloads are the restart-interval shapes the
    lockstep machines handle: SOF0/1 single interleaved scan, or SOF2
    whose scans are all DC-first / AC-first (Ah=0) — each scan split
    into independently decodable intervals.  ANY deviation (no DRI,
    refinement scans, unusual structure, malformed segment) returns
    None and the payload takes the scalar `_decode_jpeg` path, so the
    fast path can never change decode semantics — only speed."""
    import struct

    arr = np.frombuffer(payload, np.uint8)
    if payload[:2] != b"\xff\xd8":
        return None
    quant: dict[int, np.ndarray] = {}
    tables: dict[tuple[int, int], tuple[tuple, np.ndarray]] = {}
    frame = None
    restart = 0
    scans = []
    pos = 2
    n = len(payload)
    try:
        while pos < n:
            if payload[pos] != 0xFF or pos + 1 >= n:
                return None
            marker = payload[pos + 1]
            pos += 2
            if marker == 0xD9:
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7 or marker == 0xFF:
                continue
            if pos + 2 > n:
                return None
            (seglen,) = struct.unpack_from(">H", payload, pos)
            if seglen < 2 or pos + seglen > n:
                return None
            body = payload[pos + 2 : pos + seglen]
            pos += seglen
            if marker == 0xDB:
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0x0F
                    if pq != 0 or i + 65 > len(body):
                        return None
                    tab = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8).astype(np.int64)
                    quant[tq] = tab[_JPEG_UNZIGZAG]
                    i += 65
            elif marker in (0xC0, 0xC1, 0xC2):
                if frame is not None:
                    # a second SOF reallocates the scalar decoder's
                    # grids mid-file (dropping prior scans) — a shape
                    # the lockstep grid assembly does not model; let
                    # the scalar path own such files entirely
                    return None
                prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
                if prec != 8 or nc not in (1, 3) or fh < 1 or fw < 1:
                    return None
                if fh * fw > _JPEG_MAX_PIXELS:
                    return None
                comps = []
                for ci in range(nc):
                    cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                    ch, cv = hv >> 4, hv & 0x0F
                    if not (1 <= ch <= 4 and 1 <= cv <= 4):
                        return None
                    comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                if any(hmax % c["h"] or vmax % c["v"] for c in comps):
                    return None
                mcux = -(-fw // (8 * hmax))
                mcuy = -(-fh // (8 * vmax))
                if sum(mcuy * c["v"] * mcux * c["h"] * 64 for c in comps) > 2 * _JPEG_MAX_PIXELS:
                    return None
                frame = {
                    "h": fh,
                    "w": fw,
                    "comps": comps,
                    "progressive": marker == 0xC2,
                    "mcux": mcux,
                    "mcuy": mcuy,
                }
            elif marker == 0xC4:
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 0x0F
                    bits = list(body[i + 1 : i + 17])
                    nb = sum(bits)
                    vals = list(body[i + 17 : i + 17 + nb])
                    if len(vals) != nb:
                        return None
                    tables[(tc, th)] = ((tuple(bits), tuple(vals)), _jpeg_lut16(bits, vals))
                    i += 17 + nb
            elif marker == 0xDD:
                (restart,) = struct.unpack_from(">H", body, 0)
            elif marker == 0xDA:
                if frame is None or restart == 0:
                    return None
                ns = body[0]
                scomps = []
                for si in range(ns):
                    cs, tda = body[1 + 2 * si : 3 + 2 * si]
                    match = [c for c in frame["comps"] if c["id"] == cs]
                    if not match:
                        return None
                    scomps.append((match[0], tda >> 4, tda & 0x0F))
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0x0F
                prog = frame["progressive"]
                if not prog and (ss, se, ah, al) != (0, 63, 0, 0):
                    return None
                if prog and ah != 0:
                    return None  # refinement scans: scalar path
                if not prog and ns != len(frame["comps"]):
                    return None
                if prog and ss == 0 and (se != 0 or ns != len(frame["comps"])):
                    return None
                if prog and ss > 0 and ns != 1:
                    return None
                split = _jpeg_split_intervals(arr, pos)
                if split is None:
                    return None
                destuffed, bounds, end = split
                machine = "seq" if not prog else ("dc" if ss == 0 else "ac")
                scans.append(
                    {
                        "machine": machine,
                        "scomps": scomps,
                        "ss": ss,
                        "se": se,
                        "al": al,
                        "data": destuffed,
                        "bounds": bounds,
                        "tabs": dict(tables),
                        "restart": restart,
                    }
                )
                pos = end
        if frame is None or not scans:
            return None
        if not frame["progressive"] and len(scans) != 1:
            return None
        for c in frame["comps"]:
            if c["tq"] not in quant:
                return None
        return {"frame": frame, "quant": quant, "scans": scans}
    except (struct.error, IndexError, ValueError, OverflowError):
        return None


def _lockstep_scan_run(
    flat: np.ndarray,
    base_bit: np.ndarray,
    end_bit: np.ndarray,
    nblk: np.ndarray,
    maxblk: int,
    luts: np.ndarray,
    pat_dc: np.ndarray,
    pat_ac: np.ndarray,
    pat_comp: np.ndarray,
    ncomp: int,
    mode: str,
    ss: int = 0,
    se: int = 63,
    al: int = 0,
):
    """Entropy-decode S independent restart intervals IN LOCKSTEP: one
    step decodes one Huffman symbol in EVERY still-active interval via
    numpy gathers (16-bit peek -> full-table LUT -> magnitude bits ->
    coefficient scatter), so the per-symbol Python cost is amortized
    across the whole batch — the restart-marker parallelism that
    libjpeg-turbo and GPU decoders exploit, applied batch-wide.
    ``mode``: 'seq' (baseline interleaved DC+AC), 'dc' (progressive
    DC-first), 'ac' (progressive AC-first band [ss..se] with EOB runs).
    Returns (coef (S, maxblk, 64) int64, err (S,) bool); an errored
    stream poisons only its own payload (the caller re-decodes it on
    the scalar path for the descriptive ValueError)."""
    S = base_bit.size
    # int32 is plenty (|coefficient| < 2^26 even after Al shifts) and
    # halves the batch's largest allocation
    coef = np.zeros((S, maxblk, 64), np.int32)
    coef_flat = coef.reshape(-1)
    bp = base_bit.astype(np.int64).copy()
    blk = np.zeros(S, np.int64)
    k = np.full(S, ss if mode == "ac" else 0, np.int64)
    pred = np.zeros(S * ncomp, np.int64)
    err = np.zeros(S, bool)
    fl = flat
    bpm = pat_comp.size
    one = np.int64(1)
    guard = 70 * maxblk + 80  # any valid block decodes in <= ~68 symbols
    for _ in range(guard):
        act = np.flatnonzero(~err & (blk < nblk))
        if act.size == 0:
            break
        bpa = bp[act]
        b0 = bpa >> 3
        w = (
            (fl[b0].astype(np.int64) << 16)
            | (fl[b0 + 1].astype(np.int64) << 8)
            | fl[b0 + 2]
        )
        w = (w >> (8 - (bpa & 7))) & 0xFFFF
        slot = blk[act] % bpm
        if mode == "seq":
            isdc = k[act] == 0
            lid = np.where(isdc, pat_dc[slot], pat_ac[slot])
        elif mode == "dc":
            lid = pat_dc[slot]
        else:
            lid = pat_ac[slot]
        e = luts[lid, w]
        ln = (e & 0xFF).astype(np.int64)
        sym = (e >> 8).astype(np.int64)
        bad = ln == 0
        bp1 = bpa + ln
        b1 = bp1 >> 3
        w2 = (
            (fl[b1].astype(np.int64) << 16)
            | (fl[b1 + 1].astype(np.int64) << 8)
            | fl[b1 + 2]
        )
        w2 = (w2 >> (8 - (bp1 & 7))) & 0xFFFF
        tgt0 = (act * maxblk + blk[act]) * 64
        if mode == "dc":
            s = sym
            bad |= s > 11
            s = np.where(bad, 0, s)
            mag = w2 >> (16 - s)
            half = one << np.maximum(s - 1, 0)
            ext = np.where(s > 0, np.where(mag >= half, mag, mag - (one << s) + 1), 0)
            pidx = act * ncomp + pat_comp[slot]
            newpred = pred[pidx] + ext
            good = ~bad
            pred[pidx[good]] = newpred[good]
            coef_flat[tgt0[good]] = newpred[good] << al
            bp2 = bp1 + s
            blk[act] += good
        elif mode == "seq":
            r = np.where(isdc, 0, sym >> 4)
            s = np.where(isdc, sym, sym & 15)
            bad |= isdc & (s > 11)
            s = np.where(bad, 0, s)
            mag = w2 >> (16 - s)
            half = one << np.maximum(s - 1, 0)
            ext = np.where(s > 0, np.where(mag >= half, mag, mag - (one << s) + 1), 0)
            bp2 = bp1 + s
            kk = k[act]
            dcm = isdc & ~bad
            pidx = act * ncomp + pat_comp[slot]
            newpred = pred[pidx] + ext
            pred[pidx[dcm]] = newpred[dcm]
            coef_flat[tgt0[dcm]] = newpred[dcm]
            kk = np.where(dcm, 1, kk)
            acm = ~isdc & ~bad
            val = acm & (s > 0)
            knew = kk + r
            overrun = val & (knew > 63)
            bad |= overrun
            val &= ~overrun
            coef_flat[(tgt0 + knew)[val]] = ext[val]
            kk = np.where(val, knew + 1, kk)
            zrl = acm & (s == 0) & (r == 15)
            kk = np.where(zrl, kk + 16, kk)
            eobm = acm & (s == 0) & (r != 15)
            bdone = eobm | (val & (kk > 63)) | (zrl & (kk >= 64))
            blk[act] += bdone
            kk = np.where(bdone, 0, kk)
            k[act] = kk
        else:  # mode == "ac"
            r = sym >> 4
            s = sym & 15
            kk = k[act]
            val = (s > 0) & ~bad
            zrl = (s == 0) & (r == 15) & ~bad
            eobm = (s == 0) & (r != 15) & ~bad
            magv = w2 >> (16 - s)  # s<=15
            half = one << np.maximum(s - 1, 0)
            ext = np.where(s > 0, np.where(magv >= half, magv, magv - (one << s) + 1), 0)
            rr = np.where(eobm, r, 0)
            magr = w2 >> (16 - rr)
            bp2 = bp1 + np.where(val, s, rr)
            knew = kk + np.where(val, r, 0)
            overrun = val & (knew > se)
            bad |= overrun
            val &= ~overrun
            coef_flat[(tgt0 + knew)[val]] = ext[val] << al
            kk = np.where(val, knew + 1, kk)
            kk = np.where(zrl, kk + 16, kk)
            nskip = np.where(eobm, (one << rr) - 1 + magr, 0)
            bdone = eobm | ((val | zrl) & (kk > se))
            blk[act] += np.where(eobm, 1 + nskip, bdone.astype(np.int64))
            kk = np.where(bdone, ss, kk)
            k[act] = kk
        bad |= bp2 > end_bit[act]
        err[act] |= bad
        bp[act] = bp2
    else:
        err[np.flatnonzero(blk < nblk)] = True  # runaway: corrupt streams
    # a finished interval must have consumed all its bytes (only the
    # <8 padding bits may remain) — the scalar decoder enforces this
    # via its RST byte-alignment, so an under-consuming stream (a
    # corruption symptom) is handed back to the scalar path, which
    # raises the descriptive error or accepts, authoritatively
    err |= (blk >= nblk) & (end_bit - bp >= 8)
    return coef, err


def decode_jpeg_batch(payloads: list[bytes]) -> list[np.ndarray]:
    """Decode MANY JPEG payloads at once: every restart interval of
    every eligible scan of every payload becomes one lockstep stream,
    grouped by scan shape (machine, MCU pattern, Huffman tables, band,
    grid width) so a whole mapInPandas batch entropy-decodes in a few
    hundred numpy passes instead of a Python loop per coefficient.
    Ineligible or errored payloads transparently fall back to the
    scalar `_decode_jpeg` (identical semantics, including its
    descriptive ValueErrors), so this is a pure fast path."""
    _tune_worker_malloc()
    results: list = [None] * len(payloads)
    parsed = []
    for i, p in enumerate(payloads):
        pr = _parse_jpeg_lockstep(p)
        parsed.append(pr)

    # group streams across payloads: key -> stream metadata
    groups: dict[tuple, dict] = {}
    for i, pr in enumerate(parsed):
        if pr is None:
            continue
        frame = pr["frame"]
        comps = frame["comps"]
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        mcux, mcuy = frame["mcux"], frame["mcuy"]
        for si, sc in enumerate(pr["scans"]):
            machine = sc["machine"]
            restart = sc["restart"]
            # per-slot MCU pattern + resolved tables
            if machine in ("seq", "dc"):
                pat_comp, pat_dy, pat_dx, tabkeys = [], [], [], []
                ok = True
                for cidx, (c, td, ta) in enumerate(sc["scomps"]):
                    dct = sc["tabs"].get((0, td))
                    act = sc["tabs"].get((1, ta)) if machine == "seq" else None
                    if dct is None or (machine == "seq" and act is None):
                        ok = False
                        break
                    for dy in range(c["v"]):
                        for dx in range(c["h"]):
                            pat_comp.append(cidx)
                            pat_dy.append(dy)
                            pat_dx.append(dx)
                            tabkeys.append((dct[0], act[0] if act else None))
                if not ok:
                    parsed[i] = None
                    break
                n_mcu = mcux * mcuy
                bpm = len(pat_comp)
                gw = tuple((c["h"], c["v"]) for c, _, _ in sc["scomps"])
                key = (
                    machine,
                    tuple(pat_comp),
                    tuple(tabkeys),
                    sc["ss"],
                    sc["se"],
                    sc["al"],
                    mcux,
                    gw,
                )
                g = groups.setdefault(
                    key,
                    {
                        "machine": machine,
                        "pat_comp": np.array(pat_comp, np.int64),
                        "pat_dy": np.array(pat_dy, np.int64),
                        "pat_dx": np.array(pat_dx, np.int64),
                        "tabs": [
                            (sc["tabs"][(0, td)][1], sc["tabs"][(1, ta)][1] if machine == "seq" else None)
                            for c, td, ta in sc["scomps"]
                        ],
                        "ss": sc["ss"],
                        "se": sc["se"],
                        "al": sc["al"],
                        "mcux": mcux,
                        "ncomp": len(sc["scomps"]),
                        "chunks": [],
                        "streams": [],
                    },
                )
                nstream = len(sc["bounds"]) - 1
                mcu0 = np.arange(nstream, dtype=np.int64) * restart
                nmcu = np.minimum(restart, n_mcu - mcu0)
                if nmcu.size and (nmcu[:-1] != restart).any() or (nmcu < 1).any() or nstream != -(-n_mcu // restart):
                    parsed[i] = None
                    break
                g["chunks"].append(sc["data"])
                g["streams"].append(
                    {
                        "payload": i,
                        "scan": si,
                        "bounds": sc["bounds"],
                        "mcu0": mcu0,
                        "nblk": nmcu * bpm,
                    }
                )
            else:  # "ac": single component, non-interleaved block grid
                c, td, ta = sc["scomps"][0]
                act = sc["tabs"].get((1, ta))
                if act is None:
                    parsed[i] = None
                    break
                fh, fw = frame["h"], frame["w"]
                nby = -(-(fh * c["v"] // vmax + ((fh * c["v"]) % vmax > 0)) // 8)
                nbx = -(-(fw * c["h"] // hmax + ((fw * c["h"]) % hmax > 0)) // 8)
                nb = nby * nbx
                key = ("ac", act[0], sc["ss"], sc["se"], sc["al"], nbx)
                g = groups.setdefault(
                    key,
                    {
                        "machine": "ac",
                        "pat_comp": np.zeros(1, np.int64),
                        "pat_dy": np.zeros(1, np.int64),
                        "pat_dx": np.zeros(1, np.int64),
                        "tabs": [(None, act[1])],
                        "ss": sc["ss"],
                        "se": sc["se"],
                        "al": sc["al"],
                        "mcux": nbx,
                        "ncomp": 1,
                        "chunks": [],
                        "streams": [],
                    },
                )
                nstream = len(sc["bounds"]) - 1
                blk0 = np.arange(nstream, dtype=np.int64) * restart
                nblk = np.minimum(restart, nb - blk0)
                if nblk.size and (nblk[:-1] != restart).any() or (nblk < 1).any() or nstream != -(-nb // restart):
                    parsed[i] = None
                    break
                g["chunks"].append(sc["data"])
                g["streams"].append(
                    {"payload": i, "scan": si, "bounds": sc["bounds"], "mcu0": blk0, "nblk": nblk}
                )

    # run each group's lockstep machine and scatter into payload grids
    grids_by_payload: dict[int, dict[int, np.ndarray]] = {}
    failed: set[int] = set()
    for i, pr in enumerate(parsed):
        if pr is None:
            continue
        frame = pr["frame"]
        grids_by_payload[i] = {
            c["id"]: np.zeros(
                (frame["mcuy"] * c["v"], frame["mcux"] * c["h"], 64), dtype=np.int64
            )
            for c in frame["comps"]
        }
    for g in groups.values():
        if not g["streams"]:
            continue
        # assemble the flat byte array + per-stream bit ranges
        sizes = [ch.size for ch in g["chunks"]]
        offs = np.concatenate(([0], np.cumsum(sizes)))
        flat = np.concatenate(g["chunks"] + [np.zeros(4, np.uint8)])
        base, end, nblk, pay, mcu0, meta = [], [], [], [], [], []
        for ci, st in enumerate(g["streams"]):
            b = st["bounds"]
            if parsed[st["payload"]] is None:
                continue
            base.append((offs[ci] + b[:-1]) * 8)
            end.append((offs[ci] + b[1:]) * 8)
            nblk.append(st["nblk"])
            mcu0.append(st["mcu0"])
            pay.append(np.full(st["nblk"].size, st["payload"], np.int64))
            meta.append(np.full(st["nblk"].size, ci, np.int64))
        if not base:
            continue
        base = np.concatenate(base)
        end = np.concatenate(end)
        nblk = np.concatenate(nblk)
        mcu0 = np.concatenate(mcu0)
        pay = np.concatenate(pay)
        meta = np.concatenate(meta)
        maxblk = int(nblk.max())
        ntab = len(g["tabs"])
        pat_dc = np.zeros(g["pat_comp"].size, np.int64)
        pat_ac = np.zeros(g["pat_comp"].size, np.int64)
        luts = []
        for t_dc, t_ac in g["tabs"]:
            luts.append(t_dc if t_dc is not None else np.zeros(65536, np.int32))
            luts.append(t_ac if t_ac is not None else np.zeros(65536, np.int32))
        luts = np.stack(luts)
        for ci in range(ntab):
            pat_dc[g["pat_comp"] == ci] = 2 * ci
            pat_ac[g["pat_comp"] == ci] = 2 * ci + 1
        coef, err = _lockstep_scan_run(
            flat,
            base,
            end,
            nblk,
            maxblk,
            luts,
            pat_dc,
            pat_ac,
            g["pat_comp"],
            g["ncomp"],
            g["machine"],
            g["ss"],
            g["se"],
            g["al"],
        )
        for p_i in np.unique(pay[err]):
            failed.add(int(p_i))
        # scatter: block j of stream s lands at mcu = mcu0 + j//bpm,
        # slot j%bpm -> (comp, dy, dx) -> grid (mcu//mcux*v+dy, ...)
        bpm = g["pat_comp"].size
        okm = ~err
        sidx = np.flatnonzero(okm)
        if sidx.size == 0:
            continue
        nb_ok = nblk[sidx]
        stream_of = np.repeat(sidx, nb_ok)
        csum = np.concatenate(([0], np.cumsum(nb_ok)))
        j = np.arange(int(nb_ok.sum()), dtype=np.int64) - csum[:-1].repeat(nb_ok)
        mcu = mcu0[stream_of] + j // bpm
        slot = j % bpm
        metas = meta[stream_of]  # nondecreasing: streams appended in ci order
        blocks = coef[stream_of, j]  # (N, 64)
        seg_lo = np.searchsorted(metas, np.arange(len(g["streams"])), "left")
        seg_hi = np.searchsorted(metas, np.arange(len(g["streams"])), "right")
        for mi, st in enumerate(g["streams"]):
            if seg_lo[mi] == seg_hi[mi]:
                continue
            i = st["payload"]
            pr = parsed[i]
            if pr is None or i in failed:
                continue
            frame = pr["frame"]
            sl = slice(seg_lo[mi], seg_hi[mi])
            scan_ref = pr["scans"][st["scan"]]
            if g["machine"] == "ac":
                c = scan_ref["scomps"][0][0]
                grid = grids_by_payload[i][c["id"]]
                b_ = mcu[sl]
                gy, gx = b_ // g["mcux"], b_ % g["mcux"]
                lo, hi = g["ss"], g["se"]
                grid[gy, gx, lo : hi + 1] = blocks[sl, lo : hi + 1]
            else:
                slot_s = slot[sl]
                mcu_s = mcu[sl]
                blk_s = blocks[sl]
                for cidx, (c, _, _) in enumerate(scan_ref["scomps"]):
                    cm = g["pat_comp"][slot_s] == cidx
                    if not cm.any():
                        continue
                    grid = grids_by_payload[i][c["id"]]
                    mc = mcu_s[cm]
                    gy = (mc // frame["mcux"]) * c["v"] + g["pat_dy"][slot_s[cm]]
                    gx = (mc % frame["mcux"]) * c["h"] + g["pat_dx"][slot_s[cm]]
                    if g["machine"] == "dc":
                        grid[gy, gx, 0] = blk_s[cm, 0]
                    else:
                        grid[gy, gx] = blk_s[cm]

    # reconstruct stays PER PAYLOAD on purpose: a single payload's
    # planes fit in L2, so the float64 dequant/IDCT/color passes never
    # stream DRAM — a row-concatenated batch variant measured 3-6x
    # SLOWER under 32 concurrent workers (memory-bandwidth-bound),
    # while the per-payload numpy call overhead parallelizes cleanly
    for i, pr in enumerate(parsed):
        if pr is None or i in failed:
            results[i] = _decode_jpeg(payloads[i])
        else:
            results[i] = _jpeg_reconstruct(pr["frame"], pr["quant"], grids_by_payload[i])
    return results


# magic bytes for the compressed formats (both decoded WITHOUT any
# codec library since round 10 — PNG via stdlib zlib, JPEG via numpy)
_JPEG_MAGIC = b"\xff\xd8\xff"
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_real(payload: bytes, kind: str | None = None) -> np.ndarray:
    """Decode a REAL container format by magic-byte dispatch: 24-bit BMP
    -> (h, w, 3) uint8 RGB, binary PPM (P6) -> (h, w, 3) uint8 RGB,
    RIFF/WAVE PCM16 mono -> int16 samples, and PNG (8-bit gray/RGB/RGBA,
    the first COMPRESSED codec on this path) -> (h, w, ch) uint8 via the
    pure-stdlib zlib inflate + scanline unfilter in ``_decode_png``.
    JPEG — sequential (SOF0/SOF1) AND progressive (SOF2), gray +
    4:4:4/4:2:0/4:2:2 color, restart intervals, successive
    approximation — decodes with the pure-numpy DCT + Huffman parser
    in ``_decode_jpeg``; no codec library is needed for ANY supported
    format (the last PIL dependency was removed in round 10; the
    frame types that still raise — arithmetic-coded, lossless,
    hierarchical, 12-bit — are outside Pillow's decode surface too).
    ``kind`` is advisory (the magic decides); unknown magics raise so
    corrupt payloads fail loudly instead of feeding garbage features
    downstream.  FLAC/mp4 would need soundfile/ffmpeg and stay out of
    scope."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:4] == b"RIFF":
        return _decode_wav(payload)
    if payload[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        # PNG decodes with the pure-stdlib zlib parser — a real
        # compressed codec that needs no external library (PIL would
        # return (h,w,3) after convert('RGB'); this keeps the file's own
        # channel count, which the stats oracle reasons about exactly)
        return _decode_png(payload)
    if payload[: len(_JPEG_MAGIC)] == _JPEG_MAGIC:
        # both sequential (SOF0/1) and progressive (SOF2) decode with
        # the pure-numpy DCT + Huffman parser — round 10 removed the
        # last PIL dependency on this path (the remaining unsupported
        # frame types, arithmetic-coded/lossless/12-bit, raise
        # descriptively and are outside Pillow's decode surface too)
        return _decode_jpeg(payload)
    raise ValueError(f"unrecognized container magic {payload[:4]!r} (kind hint: {kind})")


def decode_fake(payload: bytes) -> np.ndarray:
    """Deterministic fake decode: payload bytes are the sample values."""
    return np.frombuffer(payload, dtype=np.uint8)


_PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("sum_bytes", LongType()),
    ]
)


def pixel_stats(media: DataFrame) -> DataFrame:
    """Feature extraction over payloads: per-media byte count + sum via
    mapInPandas (Arrow batches in, small feature rows out).  Only
    (media_id, payload) are read — Catalyst prunes the rest from the
    scan."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [decode_fake(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": np.array([a.size for a in arrs], dtype=np.int32),
                    "sum_bytes": np.array([int(a.sum()) for a in arrs], dtype=np.int64),
                }
            )

    return media.select("media_id", "payload").mapInPandas(_extract, _PIXEL_STATS_SCHEMA)


_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_sum", IntegerType()),
    ]
)


def sample_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling for video payloads: chunk the byte stream into
    FRAME_BYTES frames, keep every `every`-th, emit per-frame features.
    One wide row in → several narrow rows out (the UDTF shape, SURVEY
    D4)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for mid, payload, n_frames in zip(pdf["media_id"], pdf["payload"], pdf["n_frames"]):
                arr = decode_fake(payload)
                # clamp to COMPLETE frames actually present: metadata
                # overstating the payload would otherwise abort reshape
                n = min(int(n_frames), arr.size // FRAME_BYTES)
                arr = arr[: n * FRAME_BYTES]
                frames = arr.reshape(-1, FRAME_BYTES) if n else arr.reshape(0, FRAME_BYTES)
                for i in range(0, n, every):
                    ids.append(mid)
                    idxs.append(i)
                    sums.append(int(frames[i].sum()))
            yield pd.DataFrame(
                {
                    "media_id": np.array(ids, dtype=np.int64),
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "frame_sum": np.array(sums, dtype=np.int32),
                }
            )

    vids = media.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.n_frames").alias("n_frames")
    )
    return vids.mapInPandas(_frames, _FRAME_SCHEMA)


# --- real-container round trip (encode + decode through mapInPandas) --------

BMP_WIDTH = 5  # odd width -> every row needs 4-byte padding (worst case)
PPM_WIDTH = 4

# PNG widths chosen so gray/RGB/RGBA all pack 12 bytes per scanline —
# the oracle's floor arithmetic is then one expression per color type
PNG_GRAY_WIDTH = 12  # 12 px × 1 ch
PNG_RGB_WIDTH = 4    # 4 px × 3 ch
PNG_RGBA_WIDTH = 3   # 3 px × 4 ch
PNG_ROW_BYTES = 12


def encode_media_png(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-PNG media table from ``documents``: the text's
    byte values become pixel samples packed into genuine zlib-compressed
    PNG files inside Arrow-batched workers — color type cycles by doc_id
    (0=grayscale, 1=RGB, 2=RGBA), every scanline filter 0-4 appears
    (encode_png cycles them), and docs shorter than one scanline are
    dropped (the encoders refuse them loudly).  Payload bytes derive
    purely from (doc_id, text), so a SQL oracle can reason about the
    decoded values via ascii() arithmetic even though the bytes on the
    wire are compressed."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, containers, payloads = [], [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                vals = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if vals.size < PNG_ROW_BYTES:
                    continue
                m = int(mid) % 3
                if m == 0:
                    payload = encode_png(vals, PNG_GRAY_WIDTH, color_type=0)
                    container = "png-gray"
                elif m == 1:
                    payload = encode_png(vals, PNG_RGB_WIDTH, color_type=2)
                    container = "png-rgb"
                else:
                    payload = encode_png(vals, PNG_RGBA_WIDTH, color_type=6)
                    container = "png-rgba"
                ids.append(int(mid))
                containers.append(container)
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": np.array(ids, dtype=np.int64),
                    "container": containers,
                    "payload": payloads,
                }
            )

    return _spread_for_decode(docs.select("doc_id", "text")).mapInPandas(
        _encode, _REAL_MEDIA_SCHEMA
    )


# JPEG exact-round-trip geometry: both variants consume text bytes in
# groups of 4, each byte becoming one constant 8x8 luma block (gray: 4
# blocks per 32-px-wide block row; color: the 4 luma quadrants of one
# 16x16 4:2:0 MCU, R=G=B so chroma is constant 128 and survives
# subsampling exactly).  With an all-8 quant table the DC quantizer is
# lossless on 8*(v-128), so the decode is bit-exact — see the JPEG
# section header for the arithmetic.
JPEG_BYTES_PER_GROUP = 4
JPEG_GRAY_WIDTH = 32
JPEG_COLOR_WIDTH = 16
_JPEG_Q8 = np.full(64, 8, dtype=np.int64)


def encode_media_jpeg(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-JPEG media table from ``documents``: text byte
    values become block-constant gray levels packed through the FULL
    baseline pipeline (DCT, quantize, zigzag, Huffman, byte-stuffed
    entropy stream) — grayscale or 4:2:0 YCbCr by doc_id parity — under
    the all-8 quant table that makes the round trip exact, so a SQL
    oracle can reason about decoded sums via ascii() arithmetic even
    though the wire bytes went through a lossy-in-general codec."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ones = np.ones((8, 8), dtype=np.uint8)
        _tune_worker_malloc()
        for pdf in batches:
            ids, containers, payloads = [], [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                vals = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                usable = (vals.size // JPEG_BYTES_PER_GROUP) * JPEG_BYTES_PER_GROUP
                if usable < JPEG_BYTES_PER_GROUP:
                    continue
                m = int(mid) % 3
                # gray emits one restart interval per 32px row (4
                # one-block MCUs), so its decode exercises the lockstep
                # batch path IN-QUERY; the 16px-wide color variants
                # stay marker-free — their interval would be a single
                # MCU, and the measured per-MCU marker overhead exceeds
                # the lockstep gain at this host's memory bandwidth
                # (SCALE.md, round 11)
                if m == 0:
                    img = np.kron(vals[:usable].reshape(-1, 4), ones)
                    payload = encode_jpeg(img, quant_luma=_JPEG_Q8, restart_interval=4)
                    container = "jpeg-gray"
                else:
                    gray = np.kron(vals[:usable].reshape(-1, 2), ones)
                    rgb = np.repeat(gray[:, :, None], 3, axis=2)
                    payload = encode_jpeg(
                        rgb,
                        subsample="4:2:0",
                        quant_luma=_JPEG_Q8,
                        quant_chroma=_JPEG_Q8,
                        # m == 2: the SAME pixels through the SOF2
                        # multi-scan spectral-selection path — the
                        # progressive decoder is driver-gated too
                        progressive=m == 2,
                    )
                    container = "jpeg-420" if m == 1 else "jpeg-prog"
                ids.append(int(mid))
                containers.append(container)
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": np.array(ids, dtype=np.int64),
                    "container": containers,
                    "payload": payloads,
                }
            )

    return _spread_for_decode(docs.select("doc_id", "text")).mapInPandas(
        _encode, _REAL_MEDIA_SCHEMA
    )


_REAL_MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("payload", BinaryType()),
    ]
)

_REAL_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("n_values", IntegerType()),
        StructField("sum_values", LongType()),
    ]
)


def encode_media_real(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-container media table from ``documents``: the
    text's byte values become pixel/sample values, packed into genuine
    BMP (doc_id%3==0), WAV PCM16 (==1) or PPM P6 (==2) containers inside
    Arrow-batched workers.  Docs too short for one complete image row
    are dropped (the encoders refuse them loudly).  Payload bytes are
    derived purely from (doc_id, text), so a SQL oracle can reason about
    the decoded values via ascii() arithmetic."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, containers, payloads = [], [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                vals = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                m = int(mid) % 3
                if m == 0:
                    if vals.size < BMP_WIDTH:
                        continue
                    payload, container = encode_bmp(vals, BMP_WIDTH), "bmp"
                elif m == 1:
                    if vals.size < 1:
                        continue
                    payload, container = encode_wav(vals.astype(np.int16)), "wav"
                else:
                    if vals.size < PPM_WIDTH * 3:
                        continue
                    payload, container = encode_ppm(vals, PPM_WIDTH), "ppm"
                ids.append(int(mid))
                containers.append(container)
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": np.array(ids, dtype=np.int64),
                    "container": containers,
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(_encode, _REAL_MEDIA_SCHEMA)


def _spread_for_decode(narrow: DataFrame) -> DataFrame:
    """Repartition a narrow (id, text) frame to the session's shuffle
    parallelism before a CPU-bound Python codec stage.  The module
    header's 'repartition after extraction' rule is for BYTE-heavy
    payloads; here the input is ~300 B of text per row while the codec
    costs ~1 ms/row of Python — a small parquet file bin-packs into 1-2
    scan partitions (measured: 5000 docs / 2 partitions at sf0.1), so
    without the spread 30 of 32 workers idle through the whole decode.
    Shuffling the kilobytes is three orders of magnitude cheaper than
    serializing the decode.  Applied per CODEC COST, both measured at
    sf0.1: the zlib PNG path wins big (3.7 s -> 1.6 s) while the cheap
    header-parse codecs (BMP/PPM/WAV, ~30 us/row) LOSE 0.4 s to the
    added exchange and stay unspread — the same compute-vs-shuffle
    trade a 100 TB job makes by profiling its decode stage."""
    spark = narrow.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return narrow.repartition(n)


def decode_real_stats(media: DataFrame) -> DataFrame:
    """Parse real containers back (magic-dispatch ``decode_real``) and
    emit per-media decoded-value stats: element count and sum.  For BMP
    the grayscale source triples through B=G=R, so sum_values is exactly
    3x the packed byte sum — the oracle asserts that relationship,
    proving the parser really walked the padded bottom-up rows."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # JPEG payloads decode TOGETHER through the lockstep batch
            # decoder (restart intervals across the whole Arrow batch in
            # a few numpy passes); every other container stays on the
            # per-payload magic dispatch
            raw = [bytes(p) for p in pdf["payload"]]
            jpeg_ix = [i for i, p in enumerate(raw) if p[: len(_JPEG_MAGIC)] == _JPEG_MAGIC]
            decoded: dict[int, np.ndarray] = {}
            if len(jpeg_ix) > 1:
                for i, arr in zip(jpeg_ix, decode_jpeg_batch([raw[i] for i in jpeg_ix])):
                    decoded[i] = arr
            ids, containers, counts, sums = [], [], [], []
            for i, (mid, container) in enumerate(zip(pdf["media_id"], pdf["container"])):
                arr = decoded.get(i)
                if arr is None:
                    arr = decode_real(raw[i])
                ids.append(int(mid))
                containers.append(container)
                counts.append(int(arr.size))
                sums.append(int(arr.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "media_id": np.array(ids, dtype=np.int64),
                    "container": containers,
                    "n_values": np.array(counts, dtype=np.int32),
                    "sum_values": np.array(sums, dtype=np.int64),
                }
            )

    return media.mapInPandas(_stats, _REAL_STATS_SCHEMA)
