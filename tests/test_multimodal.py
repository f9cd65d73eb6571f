"""Tests for operators/multimodal.py — binary-column plumbing with
Arrow-batched (mapInPandas) stub decoders."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from tableone_pyspark_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def binary_df(spark):
    # synthesize binary payloads (no codecs in this container)
    rows = [(i, bytes(range(i % 7, i % 7 + 60)) * (i + 1)) for i in range(8)]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_image_metadata(binary_df):
    out = mm.image_metadata(binary_df, "id", "payload")
    assert [f.name for f in out.schema.fields] == [
        "id", "width", "height", "channels", "n_bytes", "mean_intensity",
    ]
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 8
    for i, r in rows.items():
        assert r["n_bytes"] == 60 * (i + 1)
        assert 64 <= r["width"] < 128 and 64 <= r["height"] < 128
        assert r["channels"] == 3
        assert 0.0 <= r["mean_intensity"] <= 1.0
    # deterministic: re-run produces identical metadata
    again = {r["id"]: r for r in mm.image_metadata(binary_df, "id", "payload").collect()}
    assert {i: tuple(r) for i, r in rows.items()} == {i: tuple(r) for i, r in again.items()}


def test_empty_payload_raises(spark):
    df = spark.createDataFrame([(1, b"")], "id long, payload binary")
    with pytest.raises(PythonException, match="NotImplementedError"):
        mm.image_metadata(df, "id", "payload").collect()


def test_sample_frames_fanout(binary_df):
    frames = mm.sample_frames(binary_df, "id", "payload", every_n=1, frame_size=100)
    per_id = {
        r["id"]: r["cnt"]
        for r in frames.groupBy("id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # payload of 60*(i+1) bytes cut into 100-byte frames
    for i in range(8):
        expected = (60 * (i + 1) + 99) // 100
        assert per_id[i] == expected
    one = frames.where("id = 7 and frame_index = 0").collect()[0]
    assert len(one["frame"]) == 100


def test_binary_stats(binary_df):
    r = mm.binary_stats(binary_df, "payload").collect()[0]
    sizes = [60 * (i + 1) for i in range(8)]
    assert r["n"] == 8
    assert r["total_bytes"] == sum(sizes)
    assert r["max_bytes"] == max(sizes)


def test_resize_images_stride(spark):
    from pyspark.sql import functions as F

    from tableone_pyspark_spark.operators.multimodal import resize_images

    d = spark.createDataFrame([(1, bytes(range(200))), (2, b"xy")], "id long, b binary")
    rows = {r["id"]: r for r in resize_images(d, "id", "b", target_bytes=64).collect()}
    # len 200 → step ceil(200/64)=4 → bytes 0,4,8,...,196 → 50 bytes
    assert rows[1]["n_bytes_out"] == 50
    assert bytes(rows[1]["resized"]) == bytes(range(200))[::4]
    assert rows[1]["checksum"] == sum(range(0, 200, 4))
    # shorter than target → kept whole
    assert bytes(rows[2]["resized"]) == b"xy" and rows[2]["n_bytes_out"] == 2


def test_audio_metadata_probe(spark):
    import math

    from tableone_pyspark_spark.operators.multimodal import audio_metadata

    payload = bytes([65] * 16000)  # 'A' → rate 8000*(1+65%3)=24000
    d = spark.createDataFrame([(1, payload)], "id long, b binary")
    r = audio_metadata(d, "id", "b").collect()[0]
    assert r["sample_rate"] == 24000
    assert r["n_samples"] == 8000
    assert abs(r["duration_s"] - 8000 / 24000) < 1e-12
    assert abs(r["rms"] - 65.0) < 1e-9


def test_audio_metadata_mp3_branch(spark):
    # an MP3 frame stream dispatches to the frame-header walk: real
    # rate/samples/duration, rms honestly NULL (no synthesis decoder)
    from tableone_pyspark_spark.operators.multimodal import audio_metadata

    def frame(size, h):  # MPEG1 layer III 128 kbps @ 44100 -> 417 B
        return h.to_bytes(4, "big") + bytes(size - 4)

    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (9 << 12)
    payload = frame(417, h) * 4
    stub = bytes([65] * 100)
    d = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(stub))], "id long, b binary"
    )
    got = {r["id"]: r for r in audio_metadata(d, "id", "b").collect()}
    assert got[1]["sample_rate"] == 44100
    assert got[1]["n_samples"] == 4 * 1152
    assert abs(got[1]["duration_s"] - 4 * 1152 / 44100) < 1e-12
    assert got[1]["rms"] is None
    assert got[2]["sample_rate"] == 24000  # stub branch untouched


def test_audio_corpus_four_arms_end_to_end(spark):
    """synthesize_audio_corpus → audio_metadata across all four
    dispatch arms (FLAC / WAV / stub / MP3, ids % 4): the closed-form
    outputs the oracle replays, including the r9 MP3 arm (1152·frames
    samples, MPEG1 rate table, NULL rms, ID3v2 on every other id)."""
    from tableone_pyspark_spark.operators.multimodal import (
        audio_metadata,
        synthesize_audio_corpus,
    )

    texts = [(i, "word soup %d " % i * (i % 5 + 1)) for i in range(8)]
    d = spark.createDataFrame(texts, "doc_id long, text string")
    corpus = synthesize_audio_corpus(d, "doc_id", "text")
    got = {r["id"]: r for r in audio_metadata(corpus, "id", "payload").collect()}
    assert set(got) == set(range(8))
    for i, txt in texts:
        raw = txt.encode("utf-8")
        r = got[i]
        if i % 4 == 3:  # MP3 frame walk
            assert r["sample_rate"] == (44100, 48000, 32000)[raw[0] % 3]
            nf = 1 + len(raw) % 4
            assert r["n_samples"] == 1152 * nf
            assert abs(r["duration_s"] - 1152 * nf / r["sample_rate"]) < 1e-12
            assert r["rms"] is None
        else:
            assert r["sample_rate"] == 8000 * (1 + raw[0] % 3)
            n = len(raw) // 2 if i % 4 == 2 else len(raw)
            assert r["n_samples"] == n
            assert r["rms"] is not None


def test_image_phash_gradient_signature(spark):
    from tableone_pyspark_spark.operators.multimodal import image_phash

    # ascending payload: every gradient bit set -> 2^63 - 1
    asc = bytes(range(65))
    flat = bytes([7] * 65)
    df = spark.createDataFrame(
        [(1, bytearray(asc)), (2, bytearray(flat))],
        "id long, payload binary",
    )
    out = {r["id"]: r["dhash"] for r in image_phash(df, "id", "payload").collect()}
    assert out[1] == (1 << 63) - 1
    assert out[2] == 0
    # near-identical payloads differ in few bits (the near-dup premise)
    a = bytes([(i * 7) % 251 for i in range(130)])
    b = bytearray(a); b[64] = (b[64] + 1) % 251
    df2 = spark.createDataFrame(
        [(1, bytearray(a)), (2, b)], "id long, payload binary"
    )
    h = {r["id"]: r["dhash"] for r in image_phash(df2, "id", "payload").collect()}
    assert bin(h[1] ^ h[2]).count("1") <= 2


def test_bmp_real_decode_in_image_metadata(spark):
    """BMP payloads (24-bit, 32-bit, 8-bit palette, top-down) decode
    for REAL: metadata mean equals the pixel mean, and the dHash
    equals a PNG of the same pixels."""
    import struct

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import bmp, png
    from tableone_pyspark_spark.operators.multimodal import (
        image_metadata,
        image_phash,
    )

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    payload = bmp.encode_bmp(arr)
    assert bmp.is_bmp(payload)
    assert np.array_equal(bmp.decode_bmp(payload), arr)
    assert bmp.bmp_meta(payload) == (7, 9, 24)

    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(png.encode_png(arr)))],
        "id long, payload binary",
    )
    meta = {r["id"]: r for r in image_metadata(df, "id", "payload").collect()}
    assert (meta[1]["width"], meta[1]["height"], meta[1]["channels"]) == (7, 9, 3)
    assert meta[1]["mean_intensity"] == _pytest.approx(arr.mean() / 255.0, abs=1e-9)
    ph = {r["id"]: r["dhash"] for r in image_phash(df, "id", "payload").collect()}
    assert ph[1] == ph[2]  # same pixels -> same real dHash

    # hostile: truncations ValueError, bombs guarded, RLE refuses
    for cut in range(2, len(payload)):
        try:
            bmp.decode_bmp(payload[:cut])
        except (ValueError, NotImplementedError):
            pass
    bombed = bytearray(payload)
    struct.pack_into("<ii", bombed, 18, 60000, 60000)
    with _pytest.raises(ValueError, match="bomb"):
        bmp.decode_bmp(bytes(bombed))
    # RLE decodes for real since r7; bitfields still refuse, and an
    # RLE flag on a 24-bit payload is a structural lie (ValueError)
    bf = bytearray(payload)
    struct.pack_into("<I", bf, 30, 3)  # BI_BITFIELDS on 24 bpp: invalid
    with _pytest.raises(ValueError, match="BITFIELDS requires 16/32"):
        bmp.decode_bmp(bytes(bf))
    rle = bytearray(payload)
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8 but bpp=24
    with _pytest.raises(ValueError, match="RLE8 requires 8 bpp"):
        bmp.decode_bmp(bytes(rle))


def test_bmp_rle8_round_trip_and_modes():
    import struct

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import bmp

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    # runs + noise: exercises both short and longer runs
    flat = np.repeat(rng.integers(0, 16, size=200), rng.integers(1, 40, size=200))
    idx = flat[: 37 * 23].reshape(37, 23).astype(np.uint8)
    payload = bmp.encode_bmp_rle8(idx, pal)
    assert bmp.is_bmp(payload)
    assert bmp.bmp_meta(payload) == (23, 37, 8)
    out = bmp.decode_bmp(payload)
    assert np.array_equal(out, pal[idx])

    # truncation mid-RLE raises everywhere (missing EOB or short run)
    for cut in range(54, len(payload)):
        try:
            bmp.decode_bmp(payload[:cut])
        except ValueError:
            pass  # required type; anything else propagates and fails

    # hand-built: absolute mode, delta skip, early end-of-bitmap
    pal4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                    dtype=np.uint8)
    pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal4)
    # 4x3 bottom-up: row0 abs [1,2,3] + pad, EOL; row1 delta(1,1) then
    # run; EOB — skipped pixels stay index 0
    data = bytes(
        [0, 3, 1, 2, 3, 0]  # absolute 3 px + word pad
        + [1, 1]            # run of 1 at x=3
        + [0, 0]            # EOL
        + [0, 2, 1, 1]      # delta dx=1 dy=1 (to x=1, y=2)
        + [3, 2]            # run of 3 value 2
        + [0, 1]            # EOB
    )
    info = struct.pack("<IiihHIIiiII", 40, 4, 3, 1, 8, 1, len(data),
                       2835, 2835, 4, 0)
    off = 54 + 16
    payload = (struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
               + info + pal_bytes + data)
    out = bmp.decode_bmp(payload)
    # bottom-up: file row 0 = image row 2
    assert np.array_equal(out[2], pal4[[1, 2, 3, 1]])
    assert np.array_equal(out[1], pal4[[0, 0, 0, 0]])  # skipped row
    assert np.array_equal(out[0], pal4[[0, 2, 2, 2]])  # after delta

    # RLE4: one run packs alternating nibbles
    data4 = bytes([5, 0x12] + [0, 1])  # 1,2,1,2,1 then EOB
    info4 = struct.pack("<IiihHIIiiII", 40, 5, 1, 1, 4, 2, len(data4),
                        2835, 2835, 4, 0)
    payload4 = (struct.pack("<2sIHHI", b"BM", off + len(data4), 0, 0, off)
                + info4 + pal_bytes + data4)
    out = bmp.decode_bmp(payload4)
    assert np.array_equal(out[0], pal4[[1, 2, 1, 2, 1]])

    # top-down RLE is a spec violation
    bad = bytearray(payload4)
    struct.pack_into("<i", bad, 22, -1)
    with _pytest.raises(ValueError, match="bottom-up"):
        bmp.decode_bmp(bytes(bad))
    # run overrunning the row raises
    over = bytes([9, 1, 0, 1])
    info_o = struct.pack("<IiihHIIiiII", 40, 4, 1, 1, 8, 1, len(over),
                         2835, 2835, 4, 0)
    payload_o = (struct.pack("<2sIHHI", b"BM", off + len(over), 0, 0, off)
                 + info_o + pal_bytes + over)
    with _pytest.raises(ValueError, match="overrun"):
        bmp.decode_bmp(payload_o)


def test_bmp_decode_branches_32bit_palette_topdown():
    """The decode branches the integration test doesn't reach: 32-bit
    BGRA (alpha dropped), 8-bit palette (BGRX -> RGB lookup), and
    negative-height top-down row order — each hand-built, not via
    encode_bmp (which only writes 24-bit bottom-up)."""
    import struct

    import numpy as np

    from tableone_pyspark_spark.functions import bmp

    def hdr(w, h, bpp, n_colors=0, data_len=0):
        info = struct.pack(
            "<IiihHIIiiII", 40, w, h, 1, bpp, 0, data_len, 2835, 2835,
            n_colors, 0,
        )
        off = 54 + 4 * n_colors
        return struct.pack("<2sIHHI", b"BM", off + data_len, 0, 0, off) + info

    # 32-bit BGRA, 2x2, bottom-up: alpha must be dropped
    px = np.array(
        [[[10, 20, 30, 99], [40, 50, 60, 99]],
         [[70, 80, 90, 99], [5, 6, 7, 99]]], dtype=np.uint8
    )  # rows as stored (bottom-up): file row 0 = image row 1
    data = px.tobytes()
    payload = hdr(2, 2, 32, data_len=len(data)) + data
    assert bmp.is_bmp(payload)
    out = bmp.decode_bmp(payload)
    assert out.shape == (2, 2, 3)
    # stored BGR -> RGB; bottom-up flip: image row 0 = file row 1
    assert out[0, 0].tolist() == [90, 80, 70]
    assert out[1, 1].tolist() == [60, 50, 40]

    # 8-bit palette, 3 wide (stride pads 3 -> 4), bottom-up
    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in
                   [(255, 0, 0), (0, 255, 0), (0, 0, 255)])
    rows = bytes([0, 1, 2, 0]) + bytes([2, 1, 0, 0])  # 2 rows, padded
    payload = hdr(3, 2, 8, n_colors=3, data_len=len(rows)) + pal + rows
    out = bmp.decode_bmp(payload)
    assert out[1].tolist() == [[255, 0, 0], [0, 255, 0], [0, 0, 255]]
    assert out[0].tolist() == [[0, 0, 255], [0, 255, 0], [255, 0, 0]]

    # top-down (negative height): rows in natural order
    arr = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    bgr = arr[:, :, [2, 1, 0]]
    stride_rows = np.zeros((2, 8), dtype=np.uint8)
    stride_rows[:, :6] = bgr.reshape(2, 6)
    data = stride_rows.tobytes()
    info = struct.pack("<IiihHIIiiII", 40, 2, -2, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    payload = (struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
               + info + data)
    assert np.array_equal(bmp.decode_bmp(payload), arr)

    # structural sniff: 'BM'-prefixed text is NOT a BMP (stub fallback)
    assert not bmp.is_bmp(b"BMW motorcycles are " + b"x" * 100)


def test_bmp_sub_byte_and_16bit_depths():
    import struct

    import numpy as np

    from tableone_pyspark_spark.functions import bmp

    def hdr(w, h, bpp, n_colors=0, data_len=0):
        info = struct.pack(
            "<IiihHIIiiII", 40, w, h, 1, bpp, 0, data_len, 2835, 2835,
            n_colors, 0,
        )
        off = 54 + 4 * n_colors
        return struct.pack("<2sIHHI", b"BM", off + data_len, 0, 0, off) + info

    # 1-bit MSB-first, 10 px wide (partial second byte), bottom-up
    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in
                   [(0, 0, 0), (255, 255, 255)])
    row0 = bytes([0b10110000, 0b01000000]) + b"\x00\x00"
    row1 = bytes([0b01001111, 0b11000000]) + b"\x00\x00"
    payload = hdr(10, 2, 1, n_colors=2, data_len=8) + pal + row0 + row1
    out = bmp.decode_bmp(payload)
    assert [int(p[0] == 255) for p in out[0]] == [0, 1, 0, 0, 1, 1, 1, 1, 1, 1]
    assert [int(p[0] == 255) for p in out[1]] == [1, 0, 1, 1, 0, 0, 0, 0, 0, 1]

    # 4-bit packed nibbles, odd width
    pal4 = b"".join(bytes([b, g, r, 0]) for r, g, b in
                    [(9, 9, 9), (20, 20, 20), (30, 30, 30), (40, 40, 40)])
    payload = hdr(3, 1, 4, n_colors=4, data_len=4) + pal4 + bytes([0x12, 0x30, 0, 0])
    assert bmp.decode_bmp(payload)[0, :, 0].tolist() == [20, 30, 40]

    # 16-bit RGB555 with 5->8 bit replication expansion
    v = struct.pack("<HH", 31 << 10, (16 << 10) | (16 << 5) | 16)
    payload = hdr(2, 1, 16, data_len=4) + v
    out = bmp.decode_bmp(payload)
    assert out[0, 0].tolist() == [255, 0, 0]
    assert out[0, 1].tolist() == [(16 << 3) | (16 >> 2)] * 3
    assert bmp.bmp_meta(payload) == (2, 1, 16)

    # palette index beyond the declared palette still raises
    bad = hdr(3, 1, 4, n_colors=2, data_len=4) + pal4[:8] + bytes([0x23, 0, 0, 0])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="palette"):
        bmp.decode_bmp(bad)


def test_phash_neardup_pairs_pigeonhole(spark):
    # near-identical payloads (<= 2 gradient bits apart) must pair;
    # the pigeonhole candidate join must lose NOTHING a brute-force
    # all-pairs hamming scan finds at the same threshold
    from tableone_pyspark_spark.operators.multimodal import (
        image_phash,
        phash_neardup_pairs,
    )

    base = bytes([(i * 7) % 251 for i in range(130)])
    near = bytearray(base); near[64] = (near[64] + 1) % 251
    far = bytes([(i * 13 + 5) % 251 for i in range(130)])
    far2 = bytes(reversed(base))
    rows = [(1, bytearray(base)), (2, near), (3, bytearray(far)),
            (4, bytearray(far2))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup_pairs(df, "id", "payload", max_hamming=3).collect()
    }
    assert (1, 2) in got and got[(1, 2)] <= 2
    # brute force over the signatures: identical pair set
    sigs = {r["id"]: r["dhash"] for r in image_phash(df, "id", "payload").collect()}
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == brute


def test_bmp_bitfields_decode():
    """BI_BITFIELDS: RGB565 16-bit and ARGB8888 32-bit decode through
    the mask/shift/round path; hostile masks raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import bmp

    def hdr(w, h, bpp, masks, data_len):
        info = struct.pack(
            "<IiihHIIiiII", 40, w, h, 1, bpp, 3, data_len, 2835, 2835, 0, 0
        )
        mk = struct.pack("<III", *masks)
        off = 54 + 12
        return (
            struct.pack("<2sIHHI", b"BM", off + data_len, 0, 0, off)
            + info + mk
        )

    # RGB565, 2x1, bottom-up: R=0x1F<<11, G=0x3F<<5, B=0x1F
    px = [(31, 0, 0), (10, 32, 5)]  # raw channel values (5/6/5 bit)
    vals = [(r << 11) | (g << 5) | b for r, g, b in px]
    data = struct.pack("<HH", *vals)  # 4 bytes: already 4-aligned
    payload = hdr(2, 1, 16, (0xF800, 0x07E0, 0x001F), len(data)) + data
    out = bmp.decode_bmp(payload)
    assert out.shape == (1, 2, 3)
    # round(raw*255/max): 31->255, 10->82, 32->129, 5->41
    assert out[0, 0].tolist() == [255, 0, 0]
    assert out[0, 1].tolist() == [
        round(10 * 255 / 31), round(32 * 255 / 63), round(5 * 255 / 31)
    ]
    # rounding vs the RGB555 path's bit replication: within 1 LSB
    for c in range(32):
        assert abs((c * 255 + 15) // 31 - ((c << 3) | (c >> 2))) <= 1

    # ARGB8888 32-bit: masks pick the right bytes, alpha dropped
    v = (0x11 << 16) | (0x22 << 8) | 0x33 | (0xEE << 24)
    payload = hdr(1, 1, 32, (0x00FF0000, 0x0000FF00, 0x000000FF), 4) + struct.pack("<I", v)
    assert bmp.decode_bmp(payload)[0, 0].tolist() == [0x11, 0x22, 0x33]

    # hostile: zero mask, overlapping, non-contiguous, truncated masks
    bad = hdr(1, 1, 16, (0, 0x07E0, 0x001F), 4) + b"\x00" * 4
    with _pytest.raises(ValueError, match="invalid BITFIELDS"):
        bmp.decode_bmp(bad)
    bad = hdr(1, 1, 16, (0xF800, 0xF800, 0x001F), 4) + b"\x00" * 4
    with _pytest.raises(ValueError, match="overlapping"):
        bmp.decode_bmp(bad)
    bad = hdr(1, 1, 16, (0xA800, 0x07E0, 0x001F), 4) + b"\x00" * 4
    with _pytest.raises(ValueError, match="non-contiguous"):
        bmp.decode_bmp(bad)
    with _pytest.raises(ValueError, match="masks missing"):
        bmp.decode_bmp(hdr(1, 1, 16, (0xF800, 0x07E0, 0x001F), 4)[:60])


def test_bmp_bitfields_topdown():
    # top-down is legal for BITFIELDS (only RLE forbids it)
    import struct

    from tableone_pyspark_spark.functions import bmp

    info = struct.pack(
        "<IiihHIIiiII", 40, 1, -2, 1, 32, 3, 8, 2835, 2835, 0, 0
    )
    mk = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    data = struct.pack("<II", 0x00112233, 0x00445566)
    payload = struct.pack("<2sIHHI", b"BM", 66 + 8, 0, 0, 66) + info + mk + data
    out = bmp.decode_bmp(payload)
    assert out[0, 0].tolist() == [0x11, 0x22, 0x33]  # first stored row on top
    assert out[1, 0].tolist() == [0x44, 0x55, 0x66]


def test_webp_meta_and_dispatch(spark):
    """WebP header metadata: all three variants parse; image_metadata
    reports real dimensions with NULL intensity; hostile paths raise."""
    import struct

    import pytest as _pytest

    from tableone_pyspark_spark.functions import webp
    from tableone_pyspark_spark.operators.multimodal import image_metadata

    def riff(fourcc, chunk):
        body = fourcc + struct.pack("<I", len(chunk)) + chunk
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body

    # lossy VP8: tag(3) + start code + 320x240
    vp8 = riff(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", 320, 240))
    i = webp.webp_meta(vp8)
    assert (i.width, i.height, i.variant, i.has_alpha) == (320, 240, "lossy", False)

    # lossless VP8L: 0x2F + bits for 100x50 with alpha
    bits = (100 - 1) | ((50 - 1) << 14) | (1 << 28)
    vp8l = riff(b"VP8L", b"\x2f" + struct.pack("<I", bits) + b"\x00")
    i = webp.webp_meta(vp8l)
    assert (i.width, i.height, i.variant, i.has_alpha) == (100, 50, "lossless", True)

    # extended VP8X: canvas 640x480, animation flag
    vp8x = riff(
        b"VP8X",
        bytes([0x02, 0, 0, 0])
        + (640 - 1).to_bytes(3, "little")
        + (480 - 1).to_bytes(3, "little"),
    )
    i = webp.webp_meta(vp8x)
    assert (i.width, i.height, i.variant, i.has_animation) == (
        640, 480, "extended", True,
    )

    # Spark dispatch: real dims, channels by alpha, NULL intensity
    d = spark.createDataFrame(
        [(1, bytearray(vp8)), (2, bytearray(vp8l))], "id long, b binary"
    )
    got = {r["id"]: r for r in image_metadata(d, "id", "b").collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (320, 240, 3)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (100, 50, 4)
    assert got[1]["mean_intensity"] is None and got[2]["mean_intensity"] is None

    # hostile
    with _pytest.raises(ValueError, match="not a WebP"):
        webp.webp_meta(b"RIFFxxxxWAVE" + b"\x00" * 8)
    with _pytest.raises(ValueError, match="start code"):
        webp.webp_meta(riff(b"VP8 ", b"\x00" * 10))
    with _pytest.raises(ValueError, match="signature"):
        webp.webp_meta(riff(b"VP8L", b"\x00" * 5))
    with _pytest.raises(ValueError, match="reserved VP8L version"):
        bad = (100 - 1) | ((50 - 1) << 14) | (1 << 29)
        webp.webp_meta(riff(b"VP8L", b"\x2f" + struct.pack("<I", bad)))
    with _pytest.raises(ValueError, match="RIFF size"):
        webp.webp_meta(vp8[:-4] + b"")  # truncate below declared size
    with _pytest.raises(ValueError, match="unknown first chunk"):
        webp.webp_meta(riff(b"ANMF", b"\x00" * 12))


def test_tiff_decode_and_dispatch(spark):
    """Baseline TIFF: gray + RGB round-trip through the fixture
    encoder, big-endian and white-is-zero variants, strip layout,
    Spark dispatch, and the typed-refusal boundary."""
    import struct

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff
    from tableone_pyspark_spark.operators.multimodal import image_metadata

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, (5, 9), dtype=np.uint8)
    rgb = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)

    pg = tiff.encode_tiff(gray)
    pr = tiff.encode_tiff(rgb)
    assert tiff.is_tiff(pg) and tiff.is_tiff(pr)
    assert np.array_equal(tiff.decode_tiff(pg), gray)
    assert np.array_equal(tiff.decode_tiff(pr), rgb)
    assert tiff.tiff_meta(pg) == (9, 5, 1)
    assert tiff.tiff_meta(pr) == (6, 4, 3)

    # white-is-zero grayscale inverts
    wz = bytearray(pg)
    # photometric tag 262 entry: find it and set value to 0
    n = struct.unpack_from("<H", wz, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", wz, off)[0] == 262:
            struct.pack_into("<HHII", wz, off, 262, 3, 1, 0)
    assert np.array_equal(tiff.decode_tiff(bytes(wz)), 255 - gray)

    # Spark dispatch: real dims + real means
    d = spark.createDataFrame(
        [(1, bytearray(pg)), (2, bytearray(pr))], "id long, b binary"
    )
    got = {r["id"]: r for r in image_metadata(d, "id", "b").collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (9, 5, 1)
    assert got[1]["mean_intensity"] == _pytest.approx(gray.mean() / 255, abs=1e-9)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (6, 4, 3)
    assert got[2]["mean_intensity"] == _pytest.approx(rgb.mean() / 255, abs=1e-9)

    # hostile / refusal boundary (compression 5 real since r9, 7 real
    # since r10 — CCITT G3 (3) and old-style JPEG (6) are the refusal
    # representatives now)
    for refused, msg in ((3, "compression 3"), (6, "old-style JPEG")):
        jpg = bytearray(pg)
        for i in range(n):
            off = 10 + 12 * i
            if struct.unpack_from("<H", jpg, off)[0] == 259:
                struct.pack_into("<HHII", jpg, off, 259, 3, 1, refused)
        with _pytest.raises(NotImplementedError, match=msg):
            tiff.decode_tiff(bytes(jpg))
    with _pytest.raises(ValueError, match="not a TIFF"):
        tiff.decode_tiff(b"ZZZZ" + b"\x00" * 20)
    with _pytest.raises(ValueError, match="strip outside"):
        tiff.decode_tiff(pg[:-5])
    bomb = bytearray(pg)
    for i in range(n):
        off = 10 + 12 * i
        t = struct.unpack_from("<H", bomb, off)[0]
        if t in (256, 257):
            struct.pack_into("<HHII", bomb, off, t, 3, 1, 60000)
    with _pytest.raises(ValueError, match="bomb"):
        tiff.decode_tiff(bytes(bomb))


def test_tiff_hostile_ifd_entries_raise_valueerror():
    """ADVICE r8: a present tag with count=0, or a tag stored with an
    unexpected (non-integer) type, must hit the typed ValueError
    contract — not IndexError/TypeError at the accessors."""
    import struct

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff

    pg = tiff.encode_tiff(
        np.arange(20, dtype=np.uint8).reshape(4, 5)
    )
    n = struct.unpack_from("<H", pg, 8)[0]

    def _patch(tag, typ, cnt, val):
        buf = bytearray(pg)
        for i in range(n):
            off = 10 + 12 * i
            if struct.unpack_from("<H", buf, off)[0] == tag:
                struct.pack_into("<HHII", buf, off, tag, typ, cnt, val)
        return bytes(buf)

    # an unused tag with count=0 is SKIPPED (decodes like it was
    # absent — compression defaults to 1, which this fixture is)
    assert tiff.decode_tiff(_patch(259, 3, 0, 0)).shape == (4, 5)
    # a REQUIRED tag with count=0 falls through to its own typed
    # missing-tag error, never an IndexError
    with _pytest.raises(ValueError, match="ImageWidth"):
        tiff.decode_tiff(_patch(256, 3, 0, 0))
    # compression tag stored as ASCII (type 2, kept as None) raises
    # the typed non-integer error, never TypeError at e.get(...)[0]
    with _pytest.raises(ValueError, match="non-integer"):
        tiff.decode_tiff(_patch(259, 2, 1, 1))
    # RowsPerStrip with a non-integer type hits the same contract
    with _pytest.raises(ValueError, match="non-integer"):
        tiff.decode_tiff(_patch(278, 2, 1, 4))


def test_tiff_packbits():
    """PackBits strips decode; encoder round-trips arbitrary rows;
    hostile truncations raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff

    rng = np.random.default_rng(21)
    # mix of runs and literals per row
    gray = np.concatenate(
        [
            np.full((6, 20), 7, dtype=np.uint8),
            rng.integers(0, 256, (6, 20), dtype=np.uint8),
        ],
        axis=1,
    )
    h, w = gray.shape
    # build a PackBits TIFF by hand: one strip per row
    strips = [tiff.packbits_encode(gray[r].tobytes()) for r in range(h)]
    # verify encoder against the decoder primitive first
    for r, s in enumerate(strips):
        assert tiff._unpackbits(s, w) == gray[r].tobytes()
    n_tags = 9
    ifd_off = 8
    after = ifd_off + 2 + 12 * n_tags + 4
    offs, pos = [], after + 4 * 2 * h  # strip offset+count arrays
    for s in strips:
        offs.append(pos)
        pos += len(s)
    entries = b""
    arr_off = after
    for tag, typ, cnt, val in [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, 32773),
        (262, 3, 1, 1), (273, 4, h, arr_off), (277, 3, 1, 1),
        (278, 3, 1, 1), (279, 4, h, arr_off + 4 * h),
    ]:
        entries += struct.pack("<HHII", tag, typ, cnt, val)
    payload = (
        b"II*\x00" + struct.pack("<I", ifd_off) + struct.pack("<H", n_tags)
        + entries + struct.pack("<I", 0)
        + b"".join(struct.pack("<I", o) for o in offs)
        + b"".join(struct.pack("<I", len(s)) for s in strips)
        + b"".join(strips)
    )
    assert np.array_equal(tiff.decode_tiff(payload), gray)
    # hostile: cut the last strip short
    with _pytest.raises(ValueError, match="PackBits|outside"):
        tiff.decode_tiff(payload[:-3])
    # the no-op flag is skipped
    assert tiff._unpackbits(b"\x80\x02abc", 3) == b"abc"
    # repeat run: 257-254=3 copies
    assert tiff._unpackbits(b"\xfeZ", 3) == b"ZZZ"


def test_bmp_bitfields_wide_mask_no_overflow():
    # a valid 28-bit mask: raw*255 overflows uint32 — must decode via
    # uint64 (max raw value -> 255, not a wrapped 15)
    import struct

    from tableone_pyspark_spark.functions import bmp

    masks = (0x0FFFFFFC, 0x2, 0x1)
    info = struct.pack("<IiihHIIiiII", 40, 1, 1, 1, 32, 3, 4, 2835, 2835, 0, 0)
    mk = struct.pack("<III", *masks)
    v = 0x0FFFFFFC | 0x2 | 0x1  # every channel at its max
    payload = (
        struct.pack("<2sIHHI", b"BM", 66 + 4, 0, 0, 66)
        + info + mk + struct.pack("<I", v)
    )
    assert bmp.decode_bmp(payload)[0, 0].tolist() == [255, 255, 255]


def test_signature_neardup_validates_max_hamming(spark):
    import pytest as _pytest

    from tableone_pyspark_spark.operators.dedup import signature_neardup_pairs

    sig = spark.createDataFrame([(1, 5), (2, 7)], "id long, sg long")
    with _pytest.raises(ValueError, match="max_hamming"):
        signature_neardup_pairs(sig, "id", "sg", 64)
    with _pytest.raises(ValueError, match="max_hamming"):
        signature_neardup_pairs(sig, "id", "sg", -1)


def test_tiff_lzw_and_predictor_round_trips(spark):
    """TIFF LZW (compression 5, r9): encode/decode round-trips across
    gray/RGB x predictor 1/2, width-schedule sync across the early
    change, multi-clear streams, the real Spark dispatch, and the
    hostile paths."""
    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff
    from tableone_pyspark_spark.operators.multimodal import image_metadata

    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (7, 11), dtype=np.uint8)
    rgb = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    # smooth gradient: the regime predictor 2 exists for
    smooth = (np.arange(64 * 64).reshape(64, 64) // 17 % 256).astype(np.uint8)
    for a in (gray, rgb, smooth):
        for pred in (1, 2):
            p = tiff.encode_tiff(a, compression=5, predictor=pred)
            assert np.array_equal(tiff.decode_tiff(p), a)
    # predictor 2 + LZW beats raw on smooth data (the point of both)
    assert len(tiff.encode_tiff(smooth, 5, 2)) < smooth.size // 4

    # raw codec: the early change boundary is crossed by 300k bytes of
    # low-entropy data (multiple table resets), byte-for-byte
    blob = bytes((i * 7) % 4 for i in range(300_000))
    assert tiff._lzw_decode(tiff.lzw_encode(blob), len(blob)) == blob

    # Spark dispatch with real decoded means
    d = spark.createDataFrame(
        [(1, bytearray(tiff.encode_tiff(gray, 5, 2)))], "id long, b binary"
    )
    r = image_metadata(d, "id", "b").collect()[0]
    assert (r["width"], r["height"]) == (11, 7)
    assert abs(r["mean_intensity"] - gray.mean() / 255) < 1e-9

    # hostile paths
    with _pytest.raises(ValueError, match="ran out of bits"):
        tiff._lzw_decode(tiff.lzw_encode(b"x" * 100)[:4], 100)
    with _pytest.raises(ValueError, match="beyond the table"):
        tiff._lzw_decode(b"\x00\x00\xff\xff", 10)
    with _pytest.raises(NotImplementedError, match="floating-point predictor"):
        # patch predictor tag to 3 on an LZW fixture
        import struct as _s

        p = bytearray(tiff.encode_tiff(gray, 5, 2))
        n = _s.unpack_from("<H", p, 8)[0]
        for i in range(n):
            off = 10 + 12 * i
            if _s.unpack_from("<H", p, off)[0] == 317:
                _s.pack_into("<HHII", p, off, 317, 3, 1, 3)
        tiff.decode_tiff(bytes(p))
    with _pytest.raises(ValueError, match="unsupported compression"):
        tiff.encode_tiff(gray, compression=42)


def test_tiff_deflate_and_sub8bit_gray(spark):
    """TIFF Deflate (8) and 1-/4-bit grayscale (r9): round-trips across
    the compression matrix, odd widths (row-aligned packing), the
    white-is-zero inversion on bilevel fax-style data, Spark dispatch,
    and the refusal/hostile boundaries."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff
    from tableone_pyspark_spark.operators.multimodal import image_metadata

    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (7, 11), dtype=np.uint8)
    rgb = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    for a in (gray, rgb):
        for pred in (1, 2):
            p = tiff.encode_tiff(a, compression=8, predictor=pred)
            assert np.array_equal(tiff.decode_tiff(p), a)
    bw = (rng.integers(0, 2, (13, 10), dtype=np.uint8) * 255).astype(np.uint8)
    g4 = (rng.integers(0, 16, (9, 7), dtype=np.uint8) * 17).astype(np.uint8)
    for a, b in ((bw, 1), (g4, 4)):
        for comp in (1, 5, 8, 32773):
            assert np.array_equal(
                tiff.decode_tiff(tiff.encode_tiff(a, compression=comp, bits=b)), a
            ), (b, comp)

    # white-is-zero bilevel (the fax default): patch photometric to 0
    p = bytearray(tiff.encode_tiff(bw, bits=1))
    n = struct.unpack_from("<H", p, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", p, off)[0] == 262:
            struct.pack_into("<HHII", p, off, 262, 3, 1, 0)
    assert np.array_equal(tiff.decode_tiff(bytes(p)), 255 - bw)

    # Spark dispatch: real dims and means for a deflate + 4-bit pair
    d = spark.createDataFrame(
        [
            (1, bytearray(tiff.encode_tiff(gray, compression=8, predictor=2))),
            (2, bytearray(tiff.encode_tiff(g4, bits=4))),
        ],
        "id long, b binary",
    )
    got = {r["id"]: r for r in image_metadata(d, "id", "b").collect()}
    assert (got[1]["width"], got[1]["height"]) == (11, 7)
    assert abs(got[1]["mean_intensity"] - gray.mean() / 255) < 1e-9
    assert (got[2]["width"], got[2]["height"]) == (7, 9)
    assert abs(got[2]["mean_intensity"] - g4.mean() / 255) < 1e-9

    # hostile / refusal boundaries
    trunc = bytearray(tiff.encode_tiff(gray, compression=8))
    with _pytest.raises(ValueError, match="TIFF truncated: strip"):
        tiff.decode_tiff(bytes(trunc[:-8]))
    # corrupt deflate bytes inside a correctly-sized strip
    corrupt = tiff.encode_tiff(gray, compression=8)
    bad = corrupt.replace(zlib.compress(gray.tobytes())[:8], b"ZZZZZZZZ", 1)
    with _pytest.raises(ValueError, match="Deflate"):
        tiff.decode_tiff(bad)
    with _pytest.raises(ValueError, match="sub-8-bit fixtures"):
        tiff.encode_tiff(rgb, bits=4)
    # spp 3 patched onto a grayscale-photometric 1-bit fixture is
    # spec-impossible metadata — the consistency ValueError fires
    # before any capability refusal (self-review r10; the sub-8-bit
    # RGB refusal itself is covered by test_tiff_planar_round_trips'
    # 4,4,4 bit-depth patch on a photometric-2 file)
    pp = bytearray(tiff.encode_tiff(bw, bits=1))
    with _pytest.raises(ValueError, match="grayscale photometric"):
        n2 = struct.unpack_from("<H", pp, 8)[0]
        for i in range(n2):
            off = 10 + 12 * i
            if struct.unpack_from("<H", pp, off)[0] == 277:
                struct.pack_into("<HHII", pp, off, 277, 3, 1, 3)
        tiff.decode_tiff(bytes(pp))


def test_tiff_tiled_round_trips(spark):
    """Tiled layout (TIFF 6.0 §15, closes the r9 refusal): full grid
    round-trips across codecs, predictor 2 undone PER TILE, edge
    tiles clipped, sub-8-bit tile boundaries byte-aligned."""
    import numpy as _np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff

    rng = _np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(33, 47), dtype=_np.uint8)
    rgb = rng.integers(0, 256, size=(20, 30, 3), dtype=_np.uint8)
    for arr in (gray, rgb):
        for comp in (1, 5, 8, 32773):
            for pred in (1, 2):
                enc = tiff.encode_tiff_tiled(
                    arr, tile=(16, 16), compression=comp, predictor=pred
                )
                assert _np.array_equal(tiff.decode_tiff(enc), arr), (
                    arr.shape, comp, pred,
                )
    # predictor-2 per-tile independence really matters: with two tiles
    # across, an image-wide cumsum (the strip rule) would corrupt the
    # right tile — build a case where the strip-decoded twin differs
    wide = rng.integers(0, 256, size=(16, 32), dtype=_np.uint8)
    tiled = tiff.encode_tiff_tiled(wide, tile=(16, 16), predictor=2,
                                   compression=5)
    assert _np.array_equal(tiff.decode_tiff(tiled), wide)
    # sub-8-bit grayscale tiles (document scans)
    g1 = rng.integers(0, 2, size=(40, 50), dtype=_np.uint8) * 255
    g4 = rng.integers(0, 16, size=(40, 50), dtype=_np.uint8) * 17
    for arr, bits in ((g1, 1), (g4, 4)):
        for comp in (1, 5, 8, 32773):
            enc = tiff.encode_tiff_tiled(
                arr, tile=(32, 16), compression=comp, bits=bits
            )
            assert _np.array_equal(tiff.decode_tiff(enc), arr), (bits, comp)
    # white-is-zero inversion flows through the tiled path too
    inv = tiff.encode_tiff_tiled(gray, tile=(16, 16))
    # patch photometric 1 -> 0
    import struct as _struct

    b = bytearray(inv)
    n = _struct.unpack("<H", b[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        if _struct.unpack_from("<H", b, off)[0] == 262:
            _struct.pack_into("<HHII", b, off, 262, 3, 1, 0)
    assert _np.array_equal(tiff.decode_tiff(bytes(b)), 255 - gray)


def test_tiff_tiled_hostile_paths():
    """Tile-specific hostile sweeps keep the codec contract: every
    malformed layout raises ValueError before any unbounded work."""
    import struct as _struct

    import numpy as _np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff

    arr = _np.arange(0, 256, dtype=_np.uint8).reshape(16, 16)
    enc = tiff.encode_tiff_tiled(arr, tile=(16, 16))

    def patch(tag, typ, cnt, val):
        b = bytearray(enc)
        n = _struct.unpack("<H", b[8:10])[0]
        for i in range(n):
            off = 10 + 12 * i
            if _struct.unpack_from("<H", b, off)[0] == tag:
                _struct.pack_into("<HHII", b, off, tag, typ, cnt, val)
        return bytes(b)

    with _pytest.raises(ValueError, match="multiples of 16"):
        tiff.decode_tiff(patch(322, 3, 1, 17))
    with _pytest.raises(ValueError, match="multiples of 16"):
        tiff.decode_tiff(patch(323, 3, 1, 0))
    with _pytest.raises(ValueError, match="bomb guard: padded"):
        tiff.decode_tiff(patch(322, 4, 1, 1 << 28))
    with _pytest.raises(ValueError, match="tile outside"):
        tiff.decode_tiff(patch(324, 4, 1, 1 << 20))
    with _pytest.raises(ValueError, match="non-integer"):
        tiff.decode_tiff(patch(325, 2, 1, 7))  # ASCII-typed counts
    # grid/offset-count mismatch: 2-tile image claiming one offset
    two = tiff.encode_tiff_tiled(
        _np.zeros((32, 16), dtype=_np.uint8), tile=(16, 16)
    )
    b = bytearray(two)
    n = _struct.unpack("<H", b[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        tag, typ, cnt, val = _struct.unpack_from("<HHII", b, off)
        if tag == 324:
            _struct.pack_into("<HHII", b, off, tag, typ, 1, val)
    with _pytest.raises(ValueError, match="missing/mismatched tile"):
        tiff.decode_tiff(bytes(b))
    # truncated payload under a tile
    with _pytest.raises(ValueError, match="outside the payload|truncated"):
        tiff.decode_tiff(enc[: len(enc) - 8])


def test_tiff_vestigial_tile_tag_on_striped_file_still_decodes():
    """Dispatch rule (self-review r10): a striped file carrying a
    vestigial TileByteCounts tag (no TileWidth/TileLength) keeps
    decoding as strips — junk metadata must not flip a decodable
    image into a hard error."""
    import struct as _struct

    import numpy as _np

    from tableone_pyspark_spark.functions import tiff

    arr = _np.arange(0, 80, dtype=_np.uint8).reshape(8, 10)
    enc = tiff.encode_tiff(arr)
    n = _struct.unpack("<H", enc[8:10])[0]
    entries = bytearray(enc[10 : 10 + 12 * n])
    # appending one 12-byte entry shifts everything after the IFD
    for i in range(n):
        off = 12 * i
        tag, typ, cnt, val = _struct.unpack_from("<HHII", entries, off)
        if tag == 273:  # the only file-offset-valued tag in gray strips
            _struct.pack_into("<HHII", entries, off, tag, typ, cnt, val + 12)
    entries += _struct.pack("<HHII", 325, 4, 1, 123)  # vestigial, sorted last
    patched = (
        enc[:8]
        + _struct.pack("<H", n + 1)
        + bytes(entries)
        + _struct.pack("<I", 0)
        + enc[10 + 12 * n + 4 :]
    )
    assert _np.array_equal(tiff.decode_tiff(patched), arr)
    # but a tile-data-only file (no strips) routes to the tile path
    # and reports the missing tile geometry, not a strip error
    import pytest as _pytest

    tiled = tiff.encode_tiff_tiled(_np.zeros((16, 16), dtype=_np.uint8))
    n2 = _struct.unpack("<H", tiled[8:10])[0]
    b = bytearray(tiled)
    for i in range(n2):
        off = 10 + 12 * i
        tag = _struct.unpack_from("<H", b, off)[0]
        if tag in (322, 323):  # drop dims: retype as ignored junk tag
            _struct.pack_into("<H", b, off, 60000 + tag)
    with _pytest.raises(ValueError, match="required tag 322"):
        tiff.decode_tiff(bytes(b))


def test_tiff_fillorder2_1bit():
    """FillOrder 2 for its TIFF 6.0 sanctioned use (1-bit uncompressed
    — bits fill bytes low-order first, per-byte reversal): round-trips
    in both the strip and tiled layouts, other shapes keep the
    narrowed typed refusal, and an invalid FillOrder value raises."""
    import struct as _struct

    import numpy as _np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff

    rng = _np.random.default_rng(23)
    g1 = rng.integers(0, 2, size=(21, 37), dtype=_np.uint8) * 255
    lsb = tiff.encode_tiff(g1, bits=1, fill_order=2)
    msb = tiff.encode_tiff(g1, bits=1)
    assert lsb != msb  # the packing really differs...
    assert _np.array_equal(tiff.decode_tiff(lsb), g1)  # ...decode agrees
    assert _np.array_equal(tiff.decode_tiff(msb), g1)

    # tiled 1-bit FillOrder 2: rebuild the tiled file with per-byte
    # reversed tile data + a FillOrder tag (via the generic writer)
    tiled = tiff.encode_tiff_tiled(g1, tile=(32, 16), bits=1)
    e = tiff._read_ifd(tiled, "<")
    blocks = [
        bytes(tiff._BITREV[_np.frombuffer(tiled[so : so + sc], dtype=_np.uint8)])
        for so, sc in zip(e[324], e[325])
    ]
    tags = [
        (256, 3, [37]), (257, 3, [21]), (258, 3, [1]), (259, 3, [1]),
        (262, 3, [1]), (266, 3, [2]), (277, 3, [1]),
        (322, 3, [32]), (323, 3, [16]),
        (324, 4, [0] * len(blocks)),
        (325, 4, [len(bl) for bl in blocks]),
    ]
    assert _np.array_equal(
        tiff.decode_tiff(tiff._write_tiff(tags, blocks, 324)), g1
    )

    # refusals: 8-bit, or compressed, FillOrder-2 files stay typed.
    # The fixtures never emit tag 266, so RETAG the RowsPerStrip
    # entry (278, default h) as FillOrder instead of value-patching
    def retag_fill(enc, val):
        b = bytearray(enc)
        nn = _struct.unpack("<H", b[8:10])[0]
        for i in range(nn):
            off = 10 + 12 * i
            if _struct.unpack_from("<H", b, off)[0] == 278:
                _struct.pack_into("<HHII", b, off, 266, 3, 1, val)
        return bytes(b)

    g8 = rng.integers(0, 256, size=(9, 9), dtype=_np.uint8)
    with _pytest.raises(NotImplementedError, match="FillOrder 2"):
        tiff.decode_tiff(retag_fill(tiff.encode_tiff(g8), 2))
    with _pytest.raises(NotImplementedError, match="FillOrder 2"):
        tiff.decode_tiff(
            retag_fill(tiff.encode_tiff(g1, compression=32773, bits=1), 2)
        )
    with _pytest.raises(ValueError, match="invalid FillOrder"):
        tiff.decode_tiff(retag_fill(msb, 3))
    with _pytest.raises(ValueError, match="1-bit uncompressed"):
        tiff.encode_tiff(g8, fill_order=2)


def test_tiff_planar_round_trips():
    """PlanarConfiguration 2 (closes the r9 refusal): plane-major
    strip and tile runs round-trip across every codec, the predictor
    is undone per plane, and malformed planar layouts raise."""
    import struct as _struct

    import numpy as _np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import tiff

    rng = _np.random.default_rng(29)
    rgb = rng.integers(0, 256, size=(21, 13, 3), dtype=_np.uint8)
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for rps in (None, 6):
                enc = tiff.encode_tiff_planar(
                    rgb, compression=comp, predictor=pred, rows_per_strip=rps
                )
                assert _np.array_equal(tiff.decode_tiff(enc), rgb), (
                    comp, pred, rps,
                )
            enc = tiff.encode_tiff_tiled(
                rgb, tile=(16, 16), compression=comp, predictor=pred, planar=2
            )
            assert _np.array_equal(tiff.decode_tiff(enc), rgb), (comp, pred)
    # plane-major really holds: chunky and planar agree on the pixels
    chunky = tiff.encode_tiff(rgb)
    planar = tiff.encode_tiff_planar(rgb)
    assert chunky != planar
    assert _np.array_equal(
        tiff.decode_tiff(chunky), tiff.decode_tiff(planar)
    )
    # strip-count mismatch: claim one fewer strip than 3 planes need
    enc = tiff.encode_tiff_planar(rgb, rows_per_strip=6)
    b = bytearray(enc)
    n = _struct.unpack("<H", b[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        tag, typ, cnt, val = _struct.unpack_from("<HHII", b, off)
        if tag in (273, 279):
            _struct.pack_into("<HHII", b, off, tag, typ, cnt - 1, val)
    with _pytest.raises(ValueError, match="planar"):
        tiff.decode_tiff(bytes(b))
    # planar sub-8-bit refuses (the grayscale-only sub-8-bit rule
    # fires first — still a typed refusal): patch the 8,8,8 triple
    dep = bytearray(tiff.encode_tiff_planar(rgb))
    i = bytes(dep).index(_struct.pack("<HHH", 8, 8, 8))
    dep[i : i + 6] = _struct.pack("<HHH", 4, 4, 4)
    with _pytest.raises(NotImplementedError, match="grayscale only"):
        tiff.decode_tiff(bytes(dep))
    # fixture validation
    with _pytest.raises(ValueError, match="RGB only"):
        tiff.encode_tiff_planar(rng.integers(0, 256, (5, 5), dtype=_np.uint8))
    # grayscale photometric with spp 3 is spec-impossible metadata —
    # decoding it would return uninverted "RGB" for a WhiteIsZero
    # payload, so it raises (self-review r10)
    b = bytearray(tiff.encode_tiff_planar(rgb))
    n = _struct.unpack("<H", b[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        if _struct.unpack_from("<H", b, off)[0] == 262:
            _struct.pack_into("<HHII", b, off, 262, 3, 1, 0)
    with _pytest.raises(ValueError, match="grayscale photometric"):
        tiff.decode_tiff(bytes(b))


def test_tiff_jpeg_in_tiff():
    """New-style JPEG-in-TIFF (compression 7, closes the r9 refusal):
    strips and tiles decode as complete JPEG streams via the in-house
    baseline decoder, the JPEGTables (347) merge reproduces the
    full-stream decode bit-for-bit, and the hostile paths stay
    typed. Pinned against the direct per-stream decode_jpeg assembly
    (JPEG is lossy — the TIFF layer must add nothing)."""
    import struct as _struct

    import numpy as _np
    import pytest as _pytest

    from tableone_pyspark_spark.functions import jpeg, tiff

    rng = _np.random.default_rng(31)
    gray = rng.integers(0, 256, size=(20, 17), dtype=_np.uint8)
    rgb = rng.integers(0, 256, size=(20, 17, 3), dtype=_np.uint8)

    # gray strips == stacked direct decodes
    enc = tiff.encode_tiff_jpeg(gray, rows_per_strip=8)
    want = _np.vstack(
        [
            jpeg.decode_jpeg(jpeg.encode_jpeg_gray(gray[y : y + 8]))[:, :, 0]
            for y in range(0, 20, 8)
        ]
    )
    assert _np.array_equal(tiff.decode_tiff(enc), want)

    # RGB strips, 4:4:4 and 4:2:0
    for sub in ("444", "420"):
        enc = tiff.encode_tiff_jpeg(rgb, rows_per_strip=8, subsampling=sub)
        want = _np.vstack(
            [
                jpeg.decode_jpeg(
                    jpeg.encode_jpeg_rgb(rgb[y : y + 8], subsampling=sub)
                )
                for y in range(0, 20, 8)
            ]
        )
        assert _np.array_equal(tiff.decode_tiff(enc), want), sub

    # JPEGTables merge: abbreviated streams == full streams
    full = tiff.decode_tiff(tiff.encode_tiff_jpeg(rgb, rows_per_strip=8))
    abbr = tiff.decode_tiff(
        tiff.encode_tiff_jpeg(rgb, rows_per_strip=8, jpeg_tables=True)
    )
    assert _np.array_equal(full, abbr)

    # tiled: padded tile streams, edges cropped
    enc = tiff.encode_tiff_jpeg(rgb, tile=(16, 16), jpeg_tables=True)
    padded = _np.zeros((32, 32, 3), dtype=_np.uint8)
    padded[:20, :17] = rgb
    tiles = [
        jpeg.decode_jpeg(
            jpeg.encode_jpeg_rgb(padded[ty : ty + 16, tx : tx + 16])
        )
        for ty in (0, 16)
        for tx in (0, 16)
    ]
    want = _np.zeros((32, 32, 3), dtype=_np.uint8)
    for k, (ty, tx) in enumerate([(0, 0), (0, 16), (16, 0), (16, 16)]):
        want[ty : ty + 16, tx : tx + 16] = tiles[k]
    assert _np.array_equal(tiff.decode_tiff(enc), want[:20, :17])

    def patch(enc, tag, typ, cnt, val):
        b = bytearray(enc)
        n = _struct.unpack("<H", b[8:10])[0]
        for i in range(n):
            off = 10 + 12 * i
            if _struct.unpack_from("<H", b, off)[0] == tag:
                _struct.pack_into("<HHII", b, off, tag, typ, cnt, val)
        return bytes(b)

    enc = tiff.encode_tiff_jpeg(gray, rows_per_strip=8)
    # photometric 2 under JPEG refuses (RGB fixture — a gray one hits
    # the earlier color/spp consistency ValueError); 6 without JPEG
    # refuses
    rgb_jpeg = tiff.encode_tiff_jpeg(rgb, rows_per_strip=8)
    with _pytest.raises(NotImplementedError, match="photometric 1"):
        tiff.decode_tiff(patch(rgb_jpeg, 262, 3, 1, 2))
    with _pytest.raises(NotImplementedError, match="YCbCr"):
        tiff.decode_tiff(patch(tiff.encode_tiff(rgb), 262, 3, 1, 6))
    # declared dims disagreeing with the stream dims raise
    with _pytest.raises(ValueError, match="expected"):
        tiff.decode_tiff(patch(enc, 257, 3, 1, 24))
    # corrupt SOI in a strip
    e = tiff._read_ifd(enc, "<")
    b = bytearray(enc)
    b[e[273][0]] = 0x00
    with _pytest.raises(ValueError, match="missing SOI"):
        tiff.decode_tiff(bytes(b))
    # corrupt JPEGTables EOI
    enc = tiff.encode_tiff_jpeg(gray, rows_per_strip=8, jpeg_tables=True)
    tabs = tiff._read_undefined(enc, "<", 347)
    i = enc.index(tabs)
    bad = enc[: i + len(tabs) - 2] + b"\x00\x00" + enc[i + len(tabs) :]
    with _pytest.raises(ValueError, match="SOI..EOI"):
        tiff.decode_tiff(bad)
    # predictor combined with JPEG is hostile metadata: retag the
    # RowsPerStrip entry as Predictor=2 (reader tolerates IFD order)
    b = bytearray(enc)
    n = _struct.unpack("<H", b[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        if _struct.unpack_from("<H", b, off)[0] == 278:
            _struct.pack_into("<HHII", b, off, 317, 3, 1, 2)
    with _pytest.raises(ValueError, match="predictor with JPEG"):
        tiff.decode_tiff(bytes(b))
    # a 12-bit (SOF1) stream under a BitsPerSample-8 declaration must
    # raise, not silently wrap uint16 mod 256 (self-review r10):
    # splice a precision-12 stream in place of the single strip
    enc = tiff.encode_tiff_jpeg(gray)
    e = tiff._read_ifd(enc, "<")
    s12 = jpeg.encode_jpeg_gray(gray, precision=12)
    b = bytearray(enc[: e[273][0]] + s12)
    for i in range(_struct.unpack("<H", b[8:10])[0]):
        off = 10 + 12 * i
        if _struct.unpack_from("<H", b, off)[0] == 279:
            _struct.pack_into("<HHII", b, off, 279, 4, 1, len(s12))
    with _pytest.raises(ValueError, match="precision disagrees"):
        tiff.decode_tiff(bytes(b))
