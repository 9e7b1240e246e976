"""Multimodal operator tests: mapInPandas decode/frame-sample
plumbing against numpy references (the declared queries cover the
oracle-checked paths; these cover the parts SQL can't express)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark.catalog import load_table
from politician_etl_project_spark.operators.multimodal import (
    decode_real,
    pixel_stats,
    sample_frames,
    synthesize_media,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_media(load_table(spark, SF_SMALL, "documents")).cache()


def test_decode_real_rejects_unknown_magic():
    with pytest.raises(ValueError, match="unrecognized container magic"):
        decode_real(b"\x00\x01\x02\x03", "image")


def test_bmp_roundtrip_padded_bottom_up():
    """Odd width forces per-row padding; values must come back in
    top-down RGB order despite BGR bottom-up storage."""
    from politician_etl_project_spark.operators.multimodal import encode_bmp

    vals = np.arange(35, dtype=np.uint8)  # 7 rows x 5 px (15-byte rows, 1 pad)
    payload = encode_bmp(vals, width=5)
    assert payload[:2] == b"BM"
    img = decode_real(payload)
    assert img.shape == (7, 5, 3)
    expect = np.repeat(vals.reshape(7, 5), 3).reshape(7, 5, 3)
    np.testing.assert_array_equal(img, expect)
    # partial trailing row is truncated by the encoder
    img2 = decode_real(encode_bmp(np.arange(38, dtype=np.uint8), width=5))
    assert img2.shape == (7, 5, 3)


def test_bmp_top_down_variant_decodes():
    """Real-world BMPs may store rows top-down (negative biHeight) —
    the parser must honor the sign, not assume the encoder's layout."""
    import struct

    from politician_etl_project_spark.operators.multimodal import encode_bmp

    vals = np.arange(20, dtype=np.uint8)
    payload = bytearray(encode_bmp(vals, width=5))
    # flip to top-down: negate biHeight and reorder the stored rows
    w, h = 5, 4
    stride = w * 3 + 1
    struct.pack_into("<i", payload, 14 + 8, -h)
    off = 54
    rows = [bytes(payload[off + i * stride : off + (i + 1) * stride]) for i in range(h)]
    payload[off:] = b"".join(reversed(rows))
    img = decode_real(bytes(payload))
    np.testing.assert_array_equal(img, np.repeat(vals.reshape(4, 5), 3).reshape(4, 5, 3))


def test_ppm_roundtrip_and_comment_header():
    from politician_etl_project_spark.operators.multimodal import encode_ppm

    vals = np.arange(24, dtype=np.uint8)  # 2 rows x 4 px RGB
    payload = encode_ppm(vals, width=4)
    img = decode_real(payload)
    assert img.shape == (2, 4, 3)
    np.testing.assert_array_equal(img.reshape(-1), vals)
    # a PPM written by other tools may carry '#' comments in the header
    commented = b"P6\n# made by hand\n4 2\n255\n" + vals.tobytes()
    np.testing.assert_array_equal(decode_real(commented), img)


def test_wav_roundtrip_and_extra_chunks():
    import struct

    from politician_etl_project_spark.operators.multimodal import encode_wav

    samples = np.array([0, 1, -1, 32767, -32768, 255], dtype=np.int16)
    payload = encode_wav(samples)
    np.testing.assert_array_equal(decode_real(payload), samples)
    # chunk walk must skip unknown chunks (LIST metadata before data)
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    odd = b"junk!"  # odd-length chunk exercises word-alignment padding
    chunks = b"LIST" + struct.pack("<I", len(odd)) + odd + b"\x00"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(samples.tobytes())) + samples.tobytes()
    exotic = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    np.testing.assert_array_equal(decode_real(exotic), samples)


def test_decode_real_refuses_malformed():
    from politician_etl_project_spark.operators.multimodal import encode_bmp, encode_ppm

    bmp = encode_bmp(np.arange(20, dtype=np.uint8), width=5)
    with pytest.raises(ValueError, match="truncated BMP"):
        decode_real(bmp[:-8])
    ppm = encode_ppm(np.arange(24, dtype=np.uint8), width=4)
    with pytest.raises(ValueError, match="truncated PPM"):
        decode_real(ppm[:-4])
    with pytest.raises(ValueError, match="missing fmt or data"):
        decode_real(b"RIFF\x04\x00\x00\x00WAVE")


def test_encode_decode_real_stats_spark_roundtrip(spark):
    """The two-stage mapInPandas pipeline (encode real containers ->
    parse them back) reproduces ascii-arithmetic ground truth."""
    from politician_etl_project_spark.operators.multimodal import (
        decode_real_stats,
        encode_media_real,
    )

    docs = spark.createDataFrame(
        [
            (0, "hello world bmp!"),   # bmp: 16 bytes -> 3 rows x 5
            (1, "wav sample text"),    # wav: 15 samples
            (2, "ppm needs twelve+"),  # ppm: 17 bytes -> 1 row x 12
            (3, "tiny"),               # bmp: 4 < 5 -> dropped
            (5, "short ppm"),          # ppm: 9 < 12 -> dropped
        ],
        "doc_id bigint, text string",
    )
    rows = {r["media_id"]: r for r in decode_real_stats(encode_media_real(docs)).collect()}
    assert set(rows) == {0, 1, 2}
    b = np.frombuffer(b"hello world bmp!", dtype=np.uint8)
    assert rows[0]["container"] == "bmp"
    assert rows[0]["n_values"] == 45 and rows[0]["sum_values"] == 3 * int(b[:15].sum())
    w = np.frombuffer(b"wav sample text", dtype=np.uint8)
    assert rows[1]["container"] == "wav"
    assert rows[1]["n_values"] == 15 and rows[1]["sum_values"] == int(w.sum())
    p = np.frombuffer(b"ppm needs twelve+", dtype=np.uint8)
    assert rows[2]["container"] == "ppm"
    assert rows[2]["n_values"] == 12 and rows[2]["sum_values"] == int(p[:12].sum())


def test_media_schema_and_kinds(media):
    assert media.schema["payload"].dataType.typeName() == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    # metadata is consistent with payload
    bad = media.filter(F.col("meta.n_bytes") != F.octet_length("payload")).count()
    assert bad == 0


def test_frame_sample_counts(media):
    frames = sample_frames(media, every=2)
    per_media = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    expected = {
        r["media_id"]: -(-r["meta"]["n_frames"] // 2)  # ceil(n_frames / 2)
        for r in media.filter(F.col("kind") == "video").collect()
        if r["meta"]["n_frames"] > 0
    }
    assert per_media == expected


def test_pixel_stats_prunes_payload_only_columns(media):
    # The feature extractor must request only (media_id, payload) from the
    # plan — metadata struct not read.
    plan = pixel_stats(media)._jdf.queryExecution().optimizedPlan().toString()
    assert "meta" not in plan.split("Arguments")[0] or "payload" in plan
    stats = pixel_stats(media)
    joined = (
        stats.join(media.select("media_id", F.col("meta.n_bytes").alias("nb")), "media_id")
        .filter(F.col("n_bytes") != F.col("nb"))
        .count()
    )
    assert joined == 0


def test_wav_truncation_raises_not_short_decode():
    """A data chunk whose declared length exceeds the remaining payload
    must raise like the BMP/PPM truncation paths — the old parser
    silently decoded fewer samples (round-7 advice); a short fmt chunk
    must raise ValueError, not struct.error."""
    import struct

    from politician_etl_project_spark.operators.multimodal import encode_wav

    samples = np.arange(-8, 8, dtype=np.int16)
    payload = encode_wav(samples)
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_real(payload[:-4])  # data chunk now short 4 bytes
    # fmt chunk declaring fewer than the 16 PCM header bytes
    short_fmt = struct.pack("<HHII", 1, 1, 16000, 32000)  # 12 bytes only
    chunks = b"fmt " + struct.pack("<I", len(short_fmt)) + short_fmt
    chunks += b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    bad = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    with pytest.raises(ValueError, match="truncated WAV: fmt"):
        decode_real(bad)


_PIL_MISSING = __import__("importlib.util", fromlist=["util"]).find_spec("PIL") is None


def test_jpeg_exotic_frame_types_fail_descriptively():
    """Round 10 removed the last PIL dependency: baseline AND
    progressive decode pure-numpy, so only genuinely exotic frame
    types remain — arithmetic-coded (SOF9) must raise the descriptive
    unsupported-frame error (never ImportError), with or without PIL,
    and a progressive file with zero scans must say so."""
    import struct

    sof9 = (
        b"\xff\xd8"
        + struct.pack(">BBH", 0xFF, 0xC9, 11)
        + struct.pack(">BHHB", 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="unsupported JPEG frame"):
        decode_real(sof9)
    sof2_only = (
        b"\xff\xd8"
        + struct.pack(">BBH", 0xFF, 0xC2, 11)
        + struct.pack(">BHHB", 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="no SOS scan"):
        decode_real(sof2_only)


def test_jpeg_exact_roundtrip_block_constant():
    """The q_media_decode_jpeg contract outside Spark: block-constant
    images under the all-8 quant table survive the full DCT + Huffman
    pipeline BIT-EXACTLY — grayscale and 4:2:0 color (R=G=B, so chroma
    is constant 128 and survives 2x2 subsampling + color conversion)."""
    from politician_etl_project_spark.operators.multimodal import encode_jpeg

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, 24, dtype=np.uint8)
    q8 = np.full(64, 8, np.int64)
    gray = np.kron(vals.reshape(6, 4), np.ones((8, 8), np.uint8))
    out = decode_real(encode_jpeg(gray, quant_luma=q8))
    np.testing.assert_array_equal(out, gray)

    rgb = np.repeat(np.kron(vals.reshape(-1, 2), np.ones((8, 8), np.uint8))[:, :, None], 3, axis=2)
    out2 = decode_real(encode_jpeg(rgb, subsample="4:2:0", quant_luma=q8, quant_chroma=q8))
    np.testing.assert_array_equal(out2, rgb)


def test_jpeg_decode_hand_assembled_file():
    """Decode a JPEG whose entropy bits were assembled BY HAND (not by
    the encoder, so this is not the encoder's own inverse): one 8x8
    gray block, DC diff 5 (DC-luma category 3 = '100' + '101'), one AC
    coefficient +2 at zigzag index 1 (AC-luma symbol 0x02 = '01' +
    '10'), EOB ('1010') — 14 bits, 1-padded to 0x95 0xAB.  Expected
    pixels come from an explicit cosine-sum IDCT written inline, using
    the Annex-K luminance quant table the file declares."""
    import struct

    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_AC_LUMA,
        _JPEG_DC_LUMA,
        _JPEG_QUANT_LUMA,
        _JPEG_ZIGZAG,
    )

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes(_JPEG_QUANT_LUMA[_JPEG_ZIGZAG].tolist()))
    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dht = seg(0xC4, bytes([0x00] + _JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1]))
    dht += seg(0xC4, bytes([0x10] + _JPEG_AC_LUMA[0]) + bytes(_JPEG_AC_LUMA[1]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    payload = b"\xff\xd8" + dqt + sof + dht + sos + bytes([0x95, 0xAB]) + b"\xff\xd9"

    out = decode_real(payload)
    assert out.shape == (8, 8)

    # independent IDCT: F(0,0) = 5*16 = 80, F(0,1) = 2*11 = 22 (the
    # Annex-K table's natural (0,1) entry is 11); everything else 0
    import math

    expect = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = (1 / math.sqrt(2)) * (1 / math.sqrt(2)) * 80.0
            s += (1 / math.sqrt(2)) * 1.0 * 22.0 * math.cos((2 * y + 1) * math.pi / 16)
            expect[x, y] = s / 4 + 128
    np.testing.assert_array_equal(out, np.clip(np.round(expect), 0, 255).astype(np.uint8))


def test_jpeg_decode_hand_assembled_422():
    """The encoder only emits 4:4:4/4:2:0, but the decoder's MCU loop
    claims GENERIC (h,v) layouts — pin 4:2:2 with a hand-assembled
    16x8 file (one MCU: two Y blocks side by side, one Cb, one Cr).
    Gray level 136 => Y DIFF 8 (cat 4: '101'+'1000'), Y2 DIFF 0
    ('00'), chroma DCs 0 (DC-chroma '00', AC-chroma EOB '00'); 25 data
    bits, 1-padded => B1 45 00 7F."""
    import struct

    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_AC_CHROMA,
        _JPEG_AC_LUMA,
        _JPEG_DC_CHROMA,
        _JPEG_DC_LUMA,
        _decode_jpeg,
    )

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    q8 = bytes([8] * 64)
    dqt = seg(0xDB, b"\x00" + q8) + seg(0xDB, b"\x01" + q8)
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, 8, 16, 3) + bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = seg(0xC4, bytes([0x00] + _JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1]))
    dht += seg(0xC4, bytes([0x10] + _JPEG_AC_LUMA[0]) + bytes(_JPEG_AC_LUMA[1]))
    dht += seg(0xC4, bytes([0x01] + _JPEG_DC_CHROMA[0]) + bytes(_JPEG_DC_CHROMA[1]))
    dht += seg(0xC4, bytes([0x11] + _JPEG_AC_CHROMA[0]) + bytes(_JPEG_AC_CHROMA[1]))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    payload = (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes([0xB1, 0x45, 0x00, 0x7F]) + b"\xff\xd9"
    )
    out = _decode_jpeg(payload)
    assert out.shape == (8, 16, 3)
    np.testing.assert_array_equal(out, np.full((8, 16, 3), 136, np.uint8))


def test_jpeg_progressive_roundtrip_equals_baseline():
    """progressive=True reorders the SAME quantized coefficients into
    an SOF2 spectral-selection scan script (interleaved DC scan, then
    per-component AC bands 1-5 / 6-63), so the decoded pixels must be
    IDENTICAL to the baseline file's — gray, 4:4:4 and 4:2:0, odd dims
    included (pad blocks stay DC-only)."""
    from politician_etl_project_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    np.testing.assert_array_equal(
        _decode_jpeg(encode_jpeg(gray, quality=75, progressive=True)),
        _decode_jpeg(encode_jpeg(gray, quality=75)),
    )
    rgb = rng.integers(0, 256, (13, 21, 3), dtype=np.uint8)
    for ss in ("4:2:0", "4:4:4"):
        np.testing.assert_array_equal(
            _decode_jpeg(encode_jpeg(rgb, quality=85, subsample=ss, progressive=True)),
            _decode_jpeg(encode_jpeg(rgb, quality=85, subsample=ss)),
        )
    # and the exactness window survives the progressive path too
    vals = rng.integers(0, 256, 16, dtype=np.uint8)
    img = np.kron(vals.reshape(4, 4), np.ones((8, 8), np.uint8))
    q8 = np.full(64, 8, np.int64)
    np.testing.assert_array_equal(
        decode_real(encode_jpeg(img, quant_luma=q8, progressive=True)), img
    )


def test_jpeg_progressive_successive_approximation_hand_assembled():
    """Successive approximation (Ah/Al) decode, pinned with a fully
    hand-computed 4-scan SOF2 file the encoder cannot produce (it only
    emits spectral selection): one 8x8 gray block, true coefficients
    DC=7, zz2=-5, zz5=+1 under an all-16 quant table, delivered as
    DC-first at Al=1 ('011'+'11' => 0x7F), DC-refine ('1' => FF 00,
    exercising byte stuffing in a refinement scan), AC-first at Al=1
    (run1/size2 '11011'+'01', EOB '1010' => DB 5F), and AC-refine at
    Al=0 (symbol 0x31 '111010', sign '1', correction bit '1' for the
    history-nonzero zz2, EOB => EB AF).  Expected pixels from an
    explicit cosine-sum IDCT written inline."""
    import math
    import struct

    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_AC_LUMA,
        _JPEG_DC_LUMA,
        _decode_jpeg,
    )

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes([16] * 64))
    sof = seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dht = seg(0xC4, bytes([0x00] + _JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1]))
    dht += seg(0xC4, bytes([0x10] + _JPEG_AC_LUMA[0]) + bytes(_JPEG_AC_LUMA[1]))
    scan1 = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + bytes([0x7F])
    scan2 = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + bytes([0xFF, 0x00])
    scan3 = seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01])) + bytes([0xDB, 0x5F])
    scan4 = seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + bytes([0xEB, 0xAF])
    payload = b"\xff\xd8" + dqt + sof + dht + scan1 + scan2 + scan3 + scan4 + b"\xff\xd9"

    out = _decode_jpeg(payload)
    assert out.shape == (8, 8)

    # independent IDCT: F(0,0)=7*16=112, F(1,0)=-5*16=-80 (zigzag 2),
    # F(0,2)=1*16=16 (zigzag 5)
    def c(u):
        return 1 / math.sqrt(2) if u == 0 else 1.0

    expect = np.zeros((8, 8))
    coeffs = {(0, 0): 112.0, (1, 0): -80.0, (0, 2): 16.0}
    for x in range(8):
        for y in range(8):
            s = 0.0
            for (u, v), f in coeffs.items():
                s += (
                    c(u) * c(v) * f
                    * math.cos((2 * x + 1) * u * math.pi / 16)
                    * math.cos((2 * y + 1) * v * math.pi / 16)
                )
            expect[x, y] = s / 4 + 128
    np.testing.assert_array_equal(out, np.clip(np.round(expect), 0, 255).astype(np.uint8))


def test_jpeg_decode_restart_interval():
    """DRI/RSTn support, pinned with a hand-assembled gray 8x16 file:
    DRI=1 puts an RST0 between the two MCUs, and the DC predictor must
    RESET at the marker — both blocks carry DIFF=8 ('101'+'1000'+EOB,
    11 bits, 1-padded to B1 5F), which only decodes to a uniform 136
    if the second block's prediction restarted from 0 (without the
    reset it would decode to 144)."""
    import struct

    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_AC_LUMA,
        _JPEG_DC_LUMA,
        _decode_jpeg,
    )

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes([8] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    dht = seg(0xC4, bytes([0x00] + _JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1]))
    dht += seg(0xC4, bytes([0x10] + _JPEG_AC_LUMA[0]) + bytes(_JPEG_AC_LUMA[1]))
    dri = seg(0xDD, struct.pack(">H", 1))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    block = bytes([0xB1, 0x5F])
    payload = (
        b"\xff\xd8" + dqt + sof + dht + dri + sos
        + block + b"\xff\xd0" + block + b"\xff\xd9"
    )
    out = _decode_jpeg(payload)
    np.testing.assert_array_equal(out, np.full((8, 16), 136, np.uint8))
    # wrong RST index must raise, not silently desync
    bad = payload.replace(b"\xff\xd0", b"\xff\xd3")
    with pytest.raises(ValueError, match="expected RST0"):
        _decode_jpeg(bad)


@pytest.mark.skipif(_PIL_MISSING, reason="Pillow not installed in this container")
def test_jpeg_codec_cross_checks_pil():
    """Wherever Pillow exists: (a) PIL must read OUR baseline files
    back to the exact block-constant pixels, and (b) a PIL-written
    JPEG must decode through _decode_jpeg to within IDCT rounding of
    PIL's own decode (different conformant IDCTs may differ by a
    couple of levels)."""
    import io

    from PIL import Image

    from politician_etl_project_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    vals = np.arange(16, dtype=np.uint8) * 16
    img = np.kron(vals.reshape(4, 4), np.ones((8, 8), np.uint8))
    ours = encode_jpeg(img, quant_luma=np.full(64, 8, np.int64))
    with Image.open(io.BytesIO(ours)) as im:
        np.testing.assert_array_equal(np.asarray(im.convert("L")), img)

    grad = np.add.outer(np.arange(32), np.arange(32)).astype(np.uint8) * 3
    for kwargs in ({"quality": 95}, {"quality": 90, "progressive": True}):
        buf = io.BytesIO()
        Image.fromarray(grad, "L").save(buf, format="JPEG", **kwargs)
        theirs = buf.getvalue()
        with Image.open(io.BytesIO(theirs)) as im:
            pil_px = np.asarray(im.convert("L")).astype(int)
        our_px = _decode_jpeg(theirs).astype(int)
        assert np.abs(our_px - pil_px).max() <= 3, f"mismatch vs PIL for {kwargs}"

    # and PIL must read OUR progressive files back exactly on the
    # block-constant window
    pj = encode_jpeg(img, quant_luma=np.full(64, 8, np.int64), progressive=True)
    with Image.open(io.BytesIO(pj)) as im:
        np.testing.assert_array_equal(np.asarray(im.convert("L")), img)


def test_jpeg_rejects_malformed():
    """Corrupt JPEG payloads fail loudly with ValueError: bad SOI, lost
    marker sync, truncated segments, a truncated entropy stream, 16-bit
    quant tables, unsupported frame types, and a scan naming a missing
    Huffman table."""
    import struct

    from politician_etl_project_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    good = encode_jpeg(np.full((8, 8), 130, np.uint8))
    with pytest.raises(ValueError, match="bad SOI"):
        _decode_jpeg(b"\x00\x00" + good[2:])
    with pytest.raises(ValueError, match="marker sync"):
        _decode_jpeg(b"\xff\xd8\x00\x00" + good[2:])
    with pytest.raises(ValueError, match="truncated JPEG"):
        _decode_jpeg(good[:25])  # cut inside the DQT segment body
    with pytest.raises(ValueError, match="no SOS scan"):
        _decode_jpeg(good[:20])  # cut exactly at a segment boundary
    # cut inside the entropy stream / EOI: the exact failure depends on
    # what the residual pad bits decode as, but it must be a LOUD
    # ValueError naming the payload corrupt or truncated
    with pytest.raises(ValueError, match="truncated JPEG|corrupt JPEG"):
        decode_real(good[:-3])
    # 16-bit DQT (Pq=1)
    dqt16 = struct.pack(">BBH", 0xFF, 0xDB, 2 + 129) + b"\x10" + bytes(128)
    with pytest.raises(ValueError, match="16-bit quant"):
        _decode_jpeg(b"\xff\xd8" + dqt16 + good[2:])
    # lossless frame type (SOF3)
    sof3 = struct.pack(">BBH", 0xFF, 0xC3, 11) + struct.pack(">BHHB", 8, 8, 8, 1) + bytes(
        [1, 0x11, 0]
    )
    with pytest.raises(ValueError, match="unsupported JPEG frame"):
        _decode_jpeg(b"\xff\xd8" + sof3 + b"\xff\xd9")
    # scan referencing a Huffman table no DHT defined: SOI + DQT + SOF
    # + SOS built explicitly with the DHTs left out
    dqt = struct.pack(">BBH", 0xFF, 0xDB, 2 + 65) + b"\x00" + bytes(range(1, 65))
    sof = struct.pack(">BBH", 0xFF, 0xC0, 11) + struct.pack(">BHHB", 8, 8, 8, 1) + bytes(
        [1, 0x11, 0]
    )
    sos = struct.pack(">BBH", 0xFF, 0xDA, 8) + bytes([1, 1, 0x00, 0, 63, 0])
    with pytest.raises(ValueError, match="missing DHT"):
        _decode_jpeg(b"\xff\xd8" + dqt + sof + sos + b"\x00\x00\xff\xd9")


def test_jpeg_forged_sof_bomb_rejected_before_allocation():
    """A ~30-byte forged SOF claiming 8192x8192 with nc=64 at 4x4
    sampling would request hundreds of GB of coefficient grids if the
    bomb guard only bounded fh*fw: nc must be rejected at parse time
    (only 1 or 3 supported), and a 3-component 4x4-sampled frame whose
    summed grid cells exceed the cell bound must also fail loudly —
    both as ValueError, never MemoryError."""
    import resource
    import struct

    from politician_etl_project_spark.operators.multimodal import _decode_jpeg

    def forged_sof(fh, fw, nc, hv):
        body = struct.pack(">BHHB", 8, fh, fw, nc) + b"".join(
            bytes([ci + 1, hv, 0]) for ci in range(nc)
        )
        return (
            b"\xff\xd8"
            + struct.pack(">BBH", 0xFF, 0xC0, 2 + len(body))
            + body
            + b"\xff\xd9"
        )

    # cap the test's own address space so a guard regression surfaces
    # as a failed allocation, not a 100 GB host allocation
    soft, hard = resource.getrlimit(resource.RLIMIT_AS)
    resource.setrlimit(resource.RLIMIT_AS, (2 << 30, hard))
    try:
        with pytest.raises(ValueError, match="components"):
            _decode_jpeg(forged_sof(8192, 8192, 64, 0x44))
        with pytest.raises(ValueError, match="components"):
            _decode_jpeg(forged_sof(8, 8, 2, 0x11))
        with pytest.raises(ValueError, match="cell bound|coefficient grids"):
            _decode_jpeg(forged_sof(8192, 8192, 3, 0x44))
    finally:
        resource.setrlimit(resource.RLIMIT_AS, (soft, hard))


def test_jpeg_bitwriter_pads_final_byte_with_ones():
    """T.81 F.1.2.3: the final partial byte is padded with 1-bits to
    the boundary — one leftover 1-bit must flush to 0xFF (the prior
    off-by-one emitted data+0111111 = 0xBF and dropped a surplus pad
    bit), and a full byte must flush with no pad at all."""
    from politician_etl_project_spark.operators.multimodal import _JpegBitWriter

    w = _JpegBitWriter()
    w.write(1, 1)
    out = w.flush()
    assert out == b"\xff\x00"  # 1 + seven 1-pads = 0xFF, then stuffed 0x00
    w2 = _JpegBitWriter()
    w2.write(0, 3)  # 000 + five 1-pads = 0x1F
    assert w2.flush() == b"\x1f"
    w3 = _JpegBitWriter()
    w3.write(0xA5, 8)  # already byte-aligned: flush adds nothing
    assert w3.flush() == b"\xa5"


def test_jpeg_is_actually_compressed_and_quality_scales():
    """The emitted file must be a real transform-coded stream: a
    block-constant image compresses far below raw size, and lower
    quality must produce smaller files AND larger reconstruction error
    on a noise image (guards against a fake store-everything encoder
    with a decoder that just echoes)."""
    from politician_etl_project_spark.operators.multimodal import encode_jpeg

    rng = np.random.default_rng(11)
    flat = np.kron(rng.integers(0, 256, (8, 8), dtype=np.uint8), np.ones((8, 8), np.uint8))
    j = encode_jpeg(flat, quant_luma=np.full(64, 8, np.int64))
    # ~330 bytes of that are fixed marker/table headers; the entropy
    # stream itself is ~1 byte per 64-pixel block
    assert len(j) < flat.size / 4, f"{len(j)} bytes for {flat.size} raw — not compressed"

    noise = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    sizes, errs = [], []
    for q in (95, 50):
        jj = encode_jpeg(noise, quality=q)
        out = decode_real(jj)
        sizes.append(len(jj))
        errs.append(float(np.abs(out.astype(int) - noise.astype(int)).mean()))
    assert sizes[1] < sizes[0], "lower quality must shrink the file"
    assert errs[1] > errs[0], "lower quality must raise reconstruction error"


@pytest.mark.skipif(_PIL_MISSING, reason="Pillow not installed in this container")
def test_png_decode_matches_pil_encoder():
    """Cross-encoder check wherever Pillow exists: bytes PIL wrote must
    decode identically through the stdlib _decode_png path."""
    import io

    from PIL import Image

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    buf = io.BytesIO()
    Image.fromarray(arr, "RGB").save(buf, format="PNG")
    np.testing.assert_array_equal(decode_real(buf.getvalue()), arr)


# --- PNG: the pure-stdlib compressed codec ----------------------------------


def test_png_roundtrip_all_color_types_and_filters():
    """encode_png cycles scanline filters 0-4, so any h >= 5 image
    exercises every spec predictor (None/Sub/Up/Average/Paeth); the
    round trip proves the unfilter really inverts each one, per color
    type, including a trailing partial row being dropped."""
    from politician_etl_project_spark.operators.multimodal import encode_png

    rng = np.random.RandomState(42)
    for ct, ch in [(0, 1), (2, 3), (6, 4)]:
        for w in (1, 4, 9):
            for h in (1, 2, 6, 11):
                # +3 trailing bytes: a partial row for wide scanlines,
                # whole extra rows when the scanline is <= 3 bytes
                vals = rng.randint(0, 256, size=w * ch * h + 3, dtype=np.uint8)
                exp_h = vals.size // (w * ch)
                out = decode_real(encode_png(vals, w, color_type=ct))
                assert out.shape == (exp_h, w, ch)
                np.testing.assert_array_equal(out.reshape(-1), vals[: exp_h * w * ch])


def test_png_decodes_independently_built_file():
    """A PNG assembled by hand (raw struct + zlib, not encode_png) must
    decode to its known pixels — the decoder is checked against the
    SPEC, not against its own encoder's inverse."""
    import struct
    import zlib

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)

    # 2x2 grayscale, row 0 filter None, row 1 filter Up
    scan = b"\x00" + bytes([10, 20]) + b"\x02" + bytes([25, 22])  # row1 = row0 + (25,22)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    out = decode_real(png)
    np.testing.assert_array_equal(out.reshape(2, 2), np.array([[10, 20], [35, 42]], np.uint8))


def test_png_rejects_bad_crc_and_unsupported_variants():
    import struct
    import zlib

    from politician_etl_project_spark.operators.multimodal import encode_png

    good = encode_png(np.arange(24, dtype=np.uint8), 4, color_type=0)
    bad = bytearray(good)
    bad[16] ^= 0xFF  # flip a bit inside the IHDR body
    with pytest.raises(ValueError, match="CRC"):
        decode_real(bytes(bad))

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)

    for depth, color, interlace, why in [
        (16, 0, 0, "16-bit"),
        (8, 3, 0, "palette"),
        (8, 0, 1, "interlaced"),
    ]:
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="unsupported PNG variant"):
            decode_real(png)

    # declared scanline bytes disagreeing with dimensions must raise
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" + bytes(4)))  # one row, header says four
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="scanline data"):
        decode_real(png)


def test_png_truncated_inside_chunk_crc_raises_value_error():
    """r9 ADVICE: a payload cut inside a chunk's 4 trailing CRC bytes
    used to surface as struct.error — the body-length guard covered
    only the body.  decode_real's contract is ValueError for ALL
    corrupt payloads."""
    from politician_etl_project_spark.operators.multimodal import encode_png

    good = encode_png(np.arange(24, dtype=np.uint8), 4, color_type=0)
    # cut 2 bytes into the FINAL chunk's CRC (IEND: 0-byte body, so the
    # last 4 bytes of a well-formed file are its CRC)
    with pytest.raises(ValueError, match="missing CRC bytes"):
        decode_real(good[:-2])


def test_png_is_actually_compressed():
    """The emitted file must be a real compressed stream: constant
    pixels should compress far below raw size (guards against a fake
    'store' encoder that zlib never touches)."""
    from politician_etl_project_spark.operators.multimodal import encode_png

    vals = np.zeros(10_000, dtype=np.uint8)
    png = encode_png(vals, 100, color_type=0)
    assert len(png) < 1_000, f"10 KB of constant pixels became {len(png)} bytes"
    np.testing.assert_array_equal(decode_real(png).reshape(-1), vals)


def test_jpeg_vectorized_encoder_matches_scalar():
    """The vectorized whole-scan entropy encoder must emit byte-for-byte
    what the per-block scalar encoders (`_encode_block`,
    `_encode_dc_only`, `_encode_ac_band` — kept as the readable T.81
    spec) produce for the same blocks in the same scan order, including
    ZRL runs, EOB placement, and per-component DC prediction chains.
    Rebuilds each scan's entropy bytes independently from the scalar
    functions and compares against the segments inside the emitted
    file."""
    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_AC_CHROMA,
        _JPEG_AC_LUMA,
        _JPEG_DC_CHROMA,
        _JPEG_DC_LUMA,
        _encode_ac_band,
        _encode_block,
        _encode_dc_only,
        _huff_encode_table,
        _JpegBitWriter,
        _quantized_blocks,
        encode_jpeg,
    )

    def entropy_segments(payload: bytes) -> list[bytes]:
        """Every SOS segment's raw entropy bytes (header skipped)."""
        import struct

        segs, pos = [], 2
        while pos < len(payload) - 1:
            assert payload[pos] == 0xFF
            marker = payload[pos + 1]
            pos += 2
            if marker == 0xD9:
                break
            (seglen,) = struct.unpack_from(">H", payload, pos)
            if marker != 0xDA:
                pos += seglen
                continue
            pos += seglen  # entropy data starts after the SOS header
            start = pos
            while pos < len(payload) - 1 and not (
                payload[pos] == 0xFF and payload[pos + 1] not in (0x00,)
            ):
                pos += 1
            segs.append(payload[start:pos])
        return segs

    dc_l = _huff_encode_table(*_JPEG_DC_LUMA)
    ac_l = _huff_encode_table(*_JPEG_AC_LUMA)
    dc_c = _huff_encode_table(*_JPEG_DC_CHROMA)
    ac_c = _huff_encode_table(*_JPEG_AC_CHROMA)
    rng = np.random.default_rng(23)

    # gray sequential: blocks row-major, one DC chain
    g = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    blocks, by, bx = _quantized_blocks(g.astype(np.float64), np.full(64, 8, np.int64))
    bw = _JpegBitWriter()
    pred = 0
    for r0 in range(by):
        for c0 in range(bx):
            pred = _encode_block(bw, blocks[r0, c0], pred, dc_l, ac_l)
    assert entropy_segments(encode_jpeg(g, quant_luma=np.full(64, 8, np.int64))) == [bw.flush()]

    # 4:2:0 sequential AND progressive: MCU-interleaved scan order
    c = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    payload = encode_jpeg(c, subsample="4:2:0", quality=40)
    # derive the planes exactly as the encoder does
    r_, g_, b_ = (c[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
    cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
    planes = [np.clip(np.round(p), 0, 255).astype(np.uint8) for p in (y, cb, cr)]
    ph, pw = -24 % 16, -24 % 16
    planes = [np.pad(p, ((0, ph), (0, pw)), mode="edge") for p in planes]
    hh, ww = planes[0].shape
    planes[1:] = [
        np.round(p.reshape(hh // 2, 2, ww // 2, 2).astype(np.float64).mean(axis=(1, 3))).astype(
            np.uint8
        )
        for p in planes[1:]
    ]
    from politician_etl_project_spark.operators.multimodal import _jpeg_scaled_quant
    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_QUANT_CHROMA,
        _JPEG_QUANT_LUMA,
    )

    ql = _jpeg_scaled_quant(_JPEG_QUANT_LUMA, 40)
    qc = _jpeg_scaled_quant(_JPEG_QUANT_CHROMA, 40)
    zz = [_quantized_blocks(p, q) for p, q in zip(planes, [ql, qc, qc])]
    mby, mbx = zz[1][1], zz[1][2]
    bw = _JpegBitWriter()
    preds = [0, 0, 0]
    for r0 in range(mby):
        for c0 in range(mbx):
            for dy in (0, 1):
                for dx in (0, 1):
                    preds[0] = _encode_block(
                        bw, zz[0][0][2 * r0 + dy, 2 * c0 + dx], preds[0], dc_l, ac_l
                    )
            for ci in (1, 2):
                preds[ci] = _encode_block(bw, zz[ci][0][r0, c0], preds[ci], dc_c, ac_c)
    assert entropy_segments(payload) == [bw.flush()]

    prog = encode_jpeg(c, subsample="4:2:0", quality=40, progressive=True)
    segs = entropy_segments(prog)
    assert len(segs) == 7  # DC + 2 bands x 3 comps
    bw = _JpegBitWriter()
    preds = [0, 0, 0]
    for r0 in range(mby):
        for c0 in range(mbx):
            for dy in (0, 1):
                for dx in (0, 1):
                    preds[0] = _encode_dc_only(bw, int(zz[0][0][2 * r0 + dy, 2 * c0 + dx][0]), preds[0], dc_l)
            for ci in (1, 2):
                preds[ci] = _encode_dc_only(bw, int(zz[ci][0][r0, c0][0]), preds[ci], dc_c)
    assert segs[0] == bw.flush()
    # luma band scans over the non-interleaved grid (3x3 blocks for 24px)
    k = 1
    for ci, act in ((0, ac_l), (1, ac_c), (2, ac_c)):
        nby, nbx = (3, 3) if ci == 0 else (mby, mbx)
        for ss_, se_ in ((1, 5), (6, 63)):
            bw = _JpegBitWriter()
            for r0 in range(nby):
                for c0 in range(nbx):
                    _encode_ac_band(bw, zz[ci][0][r0, c0], ss_, se_, act)
            assert segs[k] == bw.flush()
            k += 1


def test_jpeg_restart_interval_encode_roundtrip():
    """`encode_jpeg(restart_interval=N)` emits DRI + a correct RSTn
    cycle in EVERY scan (sequential AND progressive), each interval an
    independently decodable byte-aligned bitstream — the scalar decoder
    (whose DRI handling predates the encoder's) must reproduce the
    no-restart decode bit-for-bit."""
    from politician_etl_project_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(31)
    for variant in range(4):
        img = (
            rng.integers(0, 256, (40, 28), dtype=np.uint8)
            if variant % 2
            else rng.integers(0, 256, (40, 28, 3), dtype=np.uint8)
        )
        kw = {} if variant % 2 else {"subsample": "4:2:0"}
        if variant >= 2:
            kw["progressive"] = True
        base = _decode_jpeg(encode_jpeg(img, quality=55, **kw))
        for rst in (1, 2, 5):
            p = encode_jpeg(img, quality=55, restart_interval=rst, **kw)
            assert b"\xff\xdd" in p  # DRI segment present
            np.testing.assert_array_equal(_decode_jpeg(p), base)


def test_jpeg_lockstep_batch_matches_scalar():
    """decode_jpeg_batch is a pure fast path: for a mixed batch —
    restart-interval files (lockstep-eligible: sequential gray/4:2:0/
    4:4:4 and progressive spectral-selection), no-restart files
    (ineligible -> scalar fallback), and every quality level — the
    decoded pixels must equal `_decode_jpeg`'s exactly."""
    from politician_etl_project_spark.operators.multimodal import (
        _decode_jpeg,
        decode_jpeg_batch,
        encode_jpeg,
    )

    rng = np.random.default_rng(47)
    payloads = []
    for i in range(24):
        h, w = int(rng.integers(8, 60)), int(rng.integers(8, 60))
        q = int(rng.integers(20, 95))
        r = int(rng.integers(1, 7))
        if i % 4 == 0:
            payloads.append(encode_jpeg(rng.integers(0, 256, (h, w), np.uint8), quality=q, restart_interval=r))
        elif i % 4 == 1:
            payloads.append(
                encode_jpeg(rng.integers(0, 256, (h, w, 3), np.uint8), subsample="4:2:0", quality=q, restart_interval=r)
            )
        elif i % 4 == 2:
            payloads.append(
                encode_jpeg(
                    rng.integers(0, 256, (h, w, 3), np.uint8),
                    subsample="4:2:0" if h % 2 else "4:4:4",
                    quality=q,
                    progressive=True,
                    restart_interval=r,
                )
            )
        else:  # no DRI: must fall back to the scalar path
            payloads.append(encode_jpeg(rng.integers(0, 256, (h, w, 3), np.uint8), subsample="4:4:4", quality=q))
    batch = decode_jpeg_batch(payloads)
    for p, got in zip(payloads, batch):
        np.testing.assert_array_equal(got, _decode_jpeg(p))


def test_jpeg_lockstep_corrupt_payloads_match_scalar_contract():
    """Corrupt restart-interval payloads through decode_jpeg_batch must
    behave EXACTLY like `_decode_jpeg`: raise ValueError when scalar
    raises, decode to identical pixels when scalar accepts — the
    lockstep machine hands any anomalous stream (bad code, over- or
    under-consumed interval) back to the scalar path, so corruption
    can never produce silently different pixels."""
    from politician_etl_project_spark.operators.multimodal import (
        _decode_jpeg,
        decode_jpeg_batch,
        encode_jpeg,
    )

    rng = np.random.default_rng(53)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    base = encode_jpeg(img, subsample="4:2:0", restart_interval=2)
    for _ in range(60):
        b = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(2, len(b)))] = int(rng.integers(0, 256))
        b = bytes(b)
        try:
            want = _decode_jpeg(b)
            want_exc = None
        except ValueError:
            want_exc = True
        if want_exc:
            with pytest.raises(ValueError):
                decode_jpeg_batch([b])
        else:
            np.testing.assert_array_equal(decode_jpeg_batch([b])[0], want)


def test_jpeg_lockstep_422_with_restarts():
    """The lockstep seq machine claims GENERIC (h,v) MCU layouts, but
    the encoder never emits 4:2:2 — so assemble one: a 16x32 4:2:2
    file (4 MCUs of [Y,Y,Cb,Cr]) with DRI=2 whose intervals were
    entropy-coded by the SCALAR per-block encoder, then decode through
    BOTH paths.  Eligibility is asserted explicitly (a silent fallback
    would void the test), and both decodes must also match the no-DRI
    file built from the same coefficients."""
    import struct

    from politician_etl_project_spark.operators.multimodal import (
        _JPEG_AC_CHROMA,
        _JPEG_AC_LUMA,
        _JPEG_DC_CHROMA,
        _JPEG_DC_LUMA,
        _JPEG_ZIGZAG,
        _decode_jpeg,
        _encode_block,
        _huff_encode_table,
        _JpegBitWriter,
        _parse_jpeg_lockstep,
        _quantized_blocks,
        decode_jpeg_batch,
    )

    rng = np.random.default_rng(61)
    y = rng.integers(0, 256, (16, 32), dtype=np.uint8)
    cb = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    cr = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    q8 = np.full(64, 8, np.int64)
    zy, _, _ = _quantized_blocks(y, q8)
    zcb, _, _ = _quantized_blocks(cb, q8)
    zcr, _, _ = _quantized_blocks(cr, q8)
    dc_l = _huff_encode_table(*_JPEG_DC_LUMA)
    ac_l = _huff_encode_table(*_JPEG_AC_LUMA)
    dc_c = _huff_encode_table(*_JPEG_DC_CHROMA)
    ac_c = _huff_encode_table(*_JPEG_AC_CHROMA)

    def entropy(restart):
        # MCU order (2x2 grid): per MCU [Y(r,2c), Y(r,2c+1), Cb(r,c), Cr(r,c)]
        mcus = [(r, c) for r in range(2) for c in range(2)]
        chunks, bw, preds, n = [], _JpegBitWriter(), [0, 0, 0], 0
        for r, c in mcus:
            if restart and n and n % restart == 0:
                chunks.append(bw.flush())
                bw, preds = _JpegBitWriter(), [0, 0, 0]
            preds[0] = _encode_block(bw, zy[r, 2 * c], preds[0], dc_l, ac_l)
            preds[0] = _encode_block(bw, zy[r, 2 * c + 1], preds[0], dc_l, ac_l)
            preds[1] = _encode_block(bw, zcb[r, c], preds[1], dc_c, ac_c)
            preds[2] = _encode_block(bw, zcr[r, c], preds[2], dc_c, ac_c)
            n += 1
        chunks.append(bw.flush())
        out = b""
        for k, ch in enumerate(chunks):
            if k:
                out += bytes((0xFF, 0xD0 + ((k - 1) % 8)))
            out += ch
        return out

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    q8b = bytes(q8[_JPEG_ZIGZAG].tolist())
    head = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + q8b)
        + seg(0xDB, b"\x01" + q8b)
        + seg(0xC0, struct.pack(">BHHB", 8, 16, 32, 3) + bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]))
        + seg(0xC4, bytes([0x00] + _JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1]))
        + seg(0xC4, bytes([0x10] + _JPEG_AC_LUMA[0]) + bytes(_JPEG_AC_LUMA[1]))
        + seg(0xC4, bytes([0x01] + _JPEG_DC_CHROMA[0]) + bytes(_JPEG_DC_CHROMA[1]))
        + seg(0xC4, bytes([0x11] + _JPEG_AC_CHROMA[0]) + bytes(_JPEG_AC_CHROMA[1]))
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    plain = head + sos + entropy(0) + b"\xff\xd9"
    with_dri = head + seg(0xDD, struct.pack(">H", 2)) + sos + entropy(2) + b"\xff\xd9"

    assert _parse_jpeg_lockstep(with_dri) is not None, "4:2:2 DRI file must be lockstep-eligible"
    base = _decode_jpeg(plain)
    assert base.shape == (16, 32, 3)
    np.testing.assert_array_equal(_decode_jpeg(with_dri), base)
    np.testing.assert_array_equal(decode_jpeg_batch([with_dri])[0], base)


def test_jpeg_lockstep_property_matches_scalar():
    """Hypothesis sweep of the lockstep fast path: random image shape,
    gray/4:2:0/4:4:4 x sequential/progressive, quality and restart
    width — decode_jpeg_batch must equal `_decode_jpeg` exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from politician_etl_project_spark.operators.multimodal import (
        _decode_jpeg,
        decode_jpeg_batch,
        encode_jpeg,
    )

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        h=st.integers(8, 48),
        w=st.integers(8, 48),
        variant=st.sampled_from(["gray", "420", "444"]),
        progressive=st.booleans(),
        quality=st.integers(10, 95),
        restart=st.integers(1, 6),
        seed=st.integers(0, 2**16),
    )
    def check(h, w, variant, progressive, quality, restart, seed):
        rng = np.random.default_rng(seed)
        if variant == "gray":
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            kw = {}
        else:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            kw = {"subsample": "4:2:0" if variant == "420" else "4:4:4"}
        p = encode_jpeg(img, quality=quality, progressive=progressive, restart_interval=restart, **kw)
        np.testing.assert_array_equal(decode_jpeg_batch([p])[0], _decode_jpeg(p))

    check()
