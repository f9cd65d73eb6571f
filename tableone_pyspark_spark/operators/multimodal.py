"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas
iterators (``mapInPandas``).

PNG, baseline/progressive JPEG, GIF, BMP, and baseline TIFF
payloads decode for REAL via the dependency-free codecs in
``functions/png.py`` / ``jpeg.py`` / ``gif.py`` / ``bmp.py`` /
``tiff.py`` (magic-byte dispatch); WebP reports REAL header metadata
(``webp.py``, pixel decode a documented refusal): true pixels feed
``image_metadata``/``image_phash``/``resize_png``. Other formats have
no codec in this container, so their kernels remain deterministic
fakes behind the same ``_decode_*`` seams (clearly marked; swap in
PIL/ffmpeg implementations in production). Everything Spark-side is
real and tested either way: schemas, batch iteration, partition
sizing, and the UDF signatures — the parts that determine 100 TB
behavior. Binary
payloads stay in Arrow buffers end-to-end (no per-row Python), and the
pattern keeps selectivity upstream: filter/project BEFORE mapInPandas
so Parquet pushdown still prunes bytes that are never decoded.

The reference has no binary/media surface; this implements the
multimodal north-star extension (BASELINE.json).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata emitted for every decoded image batch
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def _decode_image(payload: bytes) -> tuple[int, int, int, "float | None"]:
    """Decode (width, height, channels, mean_intensity).

    PNG, JPEG, GIF, BMP, and baseline TIFF payloads (magic-byte
    sniff) decode for REAL via the pure-Python codecs in
    ``functions/`` — actual pixels, actual mean. WebP payloads get REAL dimensions/alpha from the
    container headers (``functions/webp.py``) with mean_intensity
    honestly None (the pixel decoder is a documented refusal). Any
    other payload falls back to the deterministic byte-stub (no other
    codecs in this container; production swaps PIL/turbojpeg into this
    same seam — the Spark plumbing is unchanged either way)."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: real decoder required")
    import numpy as np

    from tableone_pyspark_spark.functions import bmp, gif, jpeg, png

    if png.is_png(payload):
        arr = png.decode_png(payload)
        hh, ww, cc = arr.shape
        scale = 65535.0 if arr.dtype == np.uint16 else 255.0
        return ww, hh, cc, float(arr.mean() / scale)
    if jpeg.is_jpeg(payload):
        arr = jpeg.decode_jpeg(payload)
        hh, ww, cc = arr.shape
        scale = 4095.0 if arr.dtype == np.uint16 else 255.0  # 12-bit SOF1
        return ww, hh, cc, float(arr.mean() / scale)
    if gif.is_gif(payload):
        arr = gif.decode_gif(payload)  # first frame on the logical screen
        hh, ww, cc = arr.shape
        return ww, hh, cc, float(arr.mean() / 255.0)
    if bmp.is_bmp(payload):
        arr = bmp.decode_bmp(payload)
        hh, ww, cc = arr.shape
        return ww, hh, cc, float(arr.mean() / 255.0)
    from tableone_pyspark_spark.functions import tiff, webp

    if tiff.is_tiff(payload):
        arr = tiff.decode_tiff(payload)
        if arr.ndim == 2:
            hh, ww = arr.shape
            return ww, hh, 1, float(arr.mean() / 255.0)
        hh, ww, cc = arr.shape
        return ww, hh, cc, float(arr.mean() / 255.0)
    if webp.is_webp(payload):
        # container/frame-header metadata is REAL (functions/webp.py);
        # the pixel decoder is a documented refusal, so the intensity
        # is honestly NULL rather than a byte-stub fake
        wi = webp.webp_meta(payload)
        return wi.width, wi.height, (4 if wi.has_alpha else 3), None

    h = len(payload)
    width = 64 + (payload[0] % 64)
    height = 64 + (payload[-1] % 64)
    # integer byte sum via numpy (exact, ~50x a Python byte loop)
    head = int(np.frombuffer(payload, dtype=np.uint8, count=min(h, 256)).sum())
    mean = head / min(h, 256) / 255.0
    return width, height, 3, mean


def image_metadata(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Decode metadata for a binary image column via mapInPandas.

    Arrow moves each partition's binary column into pandas in large
    batches; the decode loop is per-batch Python over raw bytes (the
    only part codecs would replace). Output is a typed metadata table.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(bin_col).alias("payload"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                w, h, c, m = _decode_image(bytes(payload))
                rows.append((int(i), w, h, c, len(payload), m))
            yield pd.DataFrame(
                rows,
                columns=["id", "width", "height", "channels", "n_bytes", "mean_intensity"],
            )

    return src.mapInPandas(decode, IMAGE_META_SCHEMA)


def sample_frames(
    df: DataFrame, id_col: str, bin_col: str, every_n: int = 10, frame_size: int = 1024
) -> DataFrame:
    """STUB frame sampler for a binary video column: emits every Nth
    ``frame_size`` slice as a frame payload (real impl: ffmpeg
    keyframe extraction; identical Spark shape — one input row fans
    out to many typed frame rows)."""
    src = df.select(F.col(id_col).alias("id"), F.col(bin_col).alias("payload"))

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                raw = bytes(payload)
                for fi, off in enumerate(range(0, len(raw), frame_size * every_n)):
                    ids.append(int(i))
                    idxs.append(fi)
                    frames.append(raw[off : off + frame_size])
            yield pd.DataFrame({"id": ids, "frame_index": idxs, "frame": frames})

    return src.mapInPandas(cut, FRAME_SCHEMA)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_metadata(
    df: DataFrame, id_col: str, bin_col: str, bytes_per_sample: int = 2
) -> DataFrame:
    """Audio probe. RIFF/WAVE payloads (magic-byte sniff) parse for
    REAL via ``functions/wav.py``, and fLaC payloads via the
    from-scratch lossless decoder in ``functions/flac.py`` (frames,
    Rice residuals, stereo decorrelation, CRCs): sample rate and
    counts from the real headers, rms over the decoded [-1, 1]
    samples. MP3 payloads (ID3 tag or frame sync) parse for REAL via
    the ``functions/mp3.py`` frame-header walk — rate/samples/
    duration from every frame header (Xing/Info/VBRI excluded, the
    ffprobe convention) with rms honestly NULL (metadata needs no
    subband synthesis; a sample decoder would be fake precision).
    Any other payload keeps the documented STUB (AAC/Opus have no
    codec in this container): headerless PCM with a byte-derived fake
    rate, rms over raw bytes (real impl: ffprobe/soundfile into this
    same seam). Typed metadata out, payload never leaves the
    executor."""
    src = df.select(F.col(id_col).alias("id"), F.col(bin_col).alias("payload"))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        from tableone_pyspark_spark.functions import flac, mp3, wav

        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                raw = bytes(payload)
                if not raw:
                    raise NotImplementedError("empty payload: real probe required")
                if wav.is_wav(raw) or flac.is_flac(raw):
                    if wav.is_wav(raw):
                        samples, rate = wav.decode_wav(raw)
                    else:
                        samples, rate = flac.decode_flac(raw)
                    n = samples.shape[0]
                    rms = float(np.sqrt((samples * samples).mean())) if n else 0.0
                    rows.append((int(i), rate, n, n / rate, rms))
                    continue
                if mp3.is_mp3(raw):
                    mi = mp3.mp3_metadata(raw)
                    rows.append(
                        (int(i), mi.sample_rate, mi.n_samples, mi.duration_s, None)
                    )
                    continue
                rate = 8000 * (1 + raw[0] % 3)  # 8/16/24 kHz, payload-derived
                n = len(raw) // bytes_per_sample
                # exact int64 sum of squares (numpy, no Python byte loop);
                # the final sqrt matches the scalar fold bit-for-bit
                arr = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                rms = math.sqrt(int((arr * arr).sum()) / len(raw))
                rows.append((int(i), rate, n, n / rate, rms))
            yield pd.DataFrame(
                rows, columns=["id", "sample_rate", "n_samples", "duration_s", "rms"]
            )

    return src.mapInPandas(probe, AUDIO_META_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("n_bytes_out", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def resize_images(
    df: DataFrame, id_col: str, bin_col: str, target_bytes: int = 64
) -> DataFrame:
    """STUB resize for a binary image column: deterministic stride
    resample — keep every ceil(len/target)-th byte (a real impl swaps
    in PIL/turbojpeg bilinear resize; the Spark shape — mapInPandas
    over Arrow batches, binary in/binary out, typed side metadata — is
    identical). Emits the resized payload plus (n_bytes_out, checksum)
    so downstream stages and tests can verify without decoding.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(bin_col).alias("payload"))

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, outs, sizes, sums = [], [], [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                raw = bytes(payload)
                step = max(1, -(-len(raw) // target_bytes))  # ceil
                out = raw[::step]
                ids.append(int(i))
                outs.append(out)
                sizes.append(len(out))
                csum = int(np.frombuffer(out, dtype=np.uint8).astype(np.int64).sum())
                sums.append(csum % ((1 << 31) - 1))
            yield pd.DataFrame(
                {"id": ids, "resized": outs, "n_bytes_out": sizes, "checksum": sums}
            )

    return src.mapInPandas(resize, RESIZE_SCHEMA)


def binary_stats(df: DataFrame, bin_col: str) -> DataFrame:
    """Pure-Catalyst stats over a binary column (no decode): count,
    total/avg/max payload size — the cheap pre-pass that sizes a decode
    job before launching it."""
    ln = F.length(F.col(bin_col))
    return df.agg(
        F.count(F.col(bin_col)).alias("n"),
        F.sum(ln).alias("total_bytes"),
        F.round(F.avg(ln), 6).alias("avg_bytes"),
        F.max(ln).alias("max_bytes"),
    )


PHASH_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("dhash", T.LongType())]
)


def image_phash(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """STUB perceptual hash (dHash) for image payloads: sample 64
    stride-spaced bytes as the "thumbnail row" and set bit i when
    sample[i+1] > sample[i] — the gradient signature real dHash
    computes on a 9×8 grayscale resize (no codecs in this container;
    a real decoder slots into the same Arrow kernel). 63 bits keep the
    value positive in a signed long on every engine.

    Near-identical images differ in few gradient bits, so the
    signature feeds the SAME pigeonhole chunk join as
    :func:`tableone_pyspark_spark.operators.dedup.simhash_neardup_pairs`
    for image near-dup at scale. One Arrow pass, payloads never leave
    the executor. Returns (id, dhash).
    """
    src = df.select(F.col(id_col).alias("id"), F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tableone_pyspark_spark.functions import bmp, gif, jpeg, png

        weights = 1 << np.arange(63, dtype=np.int64)
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                raw = bytes(payload)
                if not raw:
                    raise NotImplementedError("empty payload: real decoder required")
                if png.is_png(raw):
                    # real pixels: grayscale -> 9x8 -> gradient bits
                    rows.append((int(i), png.dhash63(png.decode_png(raw))))
                    continue
                if jpeg.is_jpeg(raw):
                    rows.append((int(i), png.dhash63(jpeg.decode_jpeg(raw))))
                    continue
                if gif.is_gif(raw):
                    rows.append((int(i), png.dhash63(gif.decode_gif(raw))))
                    continue
                if bmp.is_bmp(raw):
                    rows.append((int(i), png.dhash63(bmp.decode_bmp(raw))))
                    continue
                arr = np.frombuffer(raw, dtype=np.uint8)
                step = -(-len(arr) // 65)  # ceil
                idx = np.minimum(np.arange(65, dtype=np.int64) * step, len(arr) - 1)
                s = arr[idx].astype(np.int64)
                bits = (s[1:64] > s[0:63]).astype(np.int64)
                rows.append((int(i), int((bits * weights).sum())))
            yield pd.DataFrame(rows, columns=["id", "dhash"])

    return src.mapInPandas(kernel, PHASH_SCHEMA)


RESIZE_PNG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes_out", T.IntegerType()),
    ]
)


def resize_png(
    df: DataFrame, id_col: str, bin_col: str, out_w: int = 32, out_h: int = 32
) -> DataFrame:
    """REAL image resize for PNG payloads: decode (functions/png.py),
    nearest-neighbor resample to (out_w, out_h), re-encode — binary in,
    binary out, typed side metadata, same Arrow kernel shape as the
    byte-stub :func:`resize_images`. Non-PNG payloads raise (use
    :func:`resize_images` for opaque bytes): a silent wrong-codec
    fallback would corrupt a training corpus undetectably.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tableone_pyspark_spark.functions import png

        for pdf in batches:
            ids, outs, ws, hs, sizes = [], [], [], [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                raw = bytes(payload)
                if not png.is_png(raw):
                    raise ValueError(
                        f"resize_png: row {i} is not a PNG payload"
                    )
                small = png.resize_nearest(png.decode_png(raw), out_w, out_h)
                data = png.encode_png(small)
                ids.append(int(i))
                outs.append(data)
                ws.append(out_w)
                hs.append(out_h)
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "resized": outs,
                    "width": ws,
                    "height": hs,
                    "n_bytes_out": sizes,
                }
            )

    return src.mapInPandas(kernel, RESIZE_PNG_SCHEMA)


PNG_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthesize_png_corpus(
    df: DataFrame, id_col: str, text_col: str, w: int = 16, h: int = 16
) -> DataFrame:
    """Deterministic PNG-per-row fixture generator: pixel (r, c) of a
    w x h grayscale image is byte ``(r*w + c) mod len`` of the row's
    text — a pure function of the data, so decoded statistics are
    SQL-checkable on any engine. This is how the REAL decode path gets
    an oracle despite the testdata shipping no image bytes: encode
    here, decode in :func:`image_metadata`, and the round trip must
    reproduce the arithmetic of the source bytes exactly. Also the
    scale-test corpus generator for image-pipeline benchmarks (one
    Arrow pass, no payload leaves the executor).

    Format variety: ODD ids encode as palette PNGs (color type 3,
    identity 256-gray PLTE), even ids as plain grayscale — so the
    corpus exercises both decode paths. The identity palette maps
    index v to (v, v, v), so decoded mean intensity is unchanged;
    only ``channels`` differs (3 vs 1), which oracles express as
    ``CASE WHEN id % 2 = 1 THEN 3 ELSE 1 END``."""
    from tableone_pyspark_spark.plans.layout import rebalance

    # CPU-bound Arrow kernel: spread narrow inputs across all cores
    # (no-op when the source is already wide — the 100 TB case stays
    # shuffle-free)
    src = rebalance(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tableone_pyspark_spark.functions import png as _png

        gray_pal = np.repeat(
            np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
        )
        for pdf in batches:
            ids, payloads = [], []
            for i, txt in zip(pdf["id"], pdf["txt"]):
                raw = txt.encode("utf-8")
                if not raw:
                    continue  # no pixels to derive; mirrored by the
                    # length(text) > 0 filter in oracle queries
                idx = np.arange(w * h, dtype=np.int64) % len(raw)
                arr = np.frombuffer(raw, dtype=np.uint8)[idx].reshape(h, w)
                ids.append(int(i))
                if int(i) % 2 == 1:
                    payloads.append(_png.encode_png_palette(arr, gray_pal))
                else:
                    payloads.append(_png.encode_png(arr))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return src.mapInPandas(kernel, PNG_CORPUS_SCHEMA)


def synthesize_audio_corpus(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Audio twin of :func:`synthesize_png_corpus`: per row a mono
    16-bit PCM signal derived from the text bytes — sample i is
    ``(byte_i − 128) << 8`` (exactly representable, so the lossless
    round trip is SQL-checkable: normalized sample = (byte−128)/128),
    rate ``8000·(1 + byte_0 % 3)`` (the stub's formula, so all three
    branches share one oracle expression).

    Format variety across the REAL/STUB dispatch of
    :func:`audio_metadata`: ids % 4 == 0 encode as FLAC (the real
    Rice/fixed-predictor compressed path, ``functions/flac.py``),
    ids % 4 == 1 as RIFF/WAVE PCM (``functions/wav.py``), ids % 4 == 2
    pass the raw text bytes through (the documented headerless-PCM
    stub branch), and ids % 4 == 3 as MPEG1 Layer III frame streams
    (``functions/mp3.py encode_mp3_headers`` — headers-only by the
    parser's metadata-only stance; rate index byte₀ % 3, frame count
    1 + n_bytes % 4, every other id behind an ID3v2 tag, so the walk
    outputs stay closed-form for the oracle: samples = 1152 · frames,
    rms honestly NULL). One Arrow pass; payloads never leave the
    executor."""
    from tableone_pyspark_spark.plans.layout import rebalance

    # CPU-bound Arrow kernel: spread narrow inputs across all cores
    # (no-op when the source is already wide — the 100 TB case stays
    # shuffle-free)
    src = rebalance(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tableone_pyspark_spark.functions import flac as _flac
        from tableone_pyspark_spark.functions import mp3 as _mp3
        from tableone_pyspark_spark.functions import wav as _wav

        for pdf in batches:
            ids, payloads = [], []
            for i, txt in zip(pdf["id"], pdf["txt"]):
                raw = txt.encode("utf-8")
                if not raw:
                    continue  # mirrored by length(text) > 0 in oracles
                ids.append(int(i))
                m = int(i) % 4
                if m == 2:
                    payloads.append(raw)
                    continue
                if m == 3:
                    payloads.append(
                        _mp3.encode_mp3_headers(
                            n_frames=1 + len(raw) % 4,
                            ridx=raw[0] % 3,
                            id3v2_pad=16 if (int(i) // 4) % 2 == 0 else 0,
                        )
                    )
                    continue
                rate = 8000 * (1 + raw[0] % 3)
                v = (np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128) << 8
                if m == 0:
                    payloads.append(_flac.encode_flac(v, rate, bits=16))
                else:
                    payloads.append(_wav.encode_wav(v[:, None] / 32768.0, rate, bits=16))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return src.mapInPandas(kernel, PNG_CORPUS_SCHEMA)


def synthesize_jpeg_corpus(
    df: DataFrame, id_col: str, text_col: str, blocks: int = 4
) -> DataFrame:
    """JPEG twin of :func:`synthesize_png_corpus`, built for the DC-only
    regime that keeps the REAL lossy decode SQL-checkable: each payload
    is a (blocks*8 × 8) grayscale baseline JPEG of FLAT 8x8 blocks,
    block k's value = byte ``k mod len`` of the row's text. A flat
    block survives encode→decode as closed-form integer arithmetic
    (``functions/jpeg.py`` determinism contract:
    ``decoded(v) = clip(floor(floor(8(v-128)/q0+0.5)·q0/8 + 128.5))``),
    so a DuckDB oracle replays the decoded mean exactly — a true
    end-to-end grade of a real entropy-coded DCT codec. One Arrow
    pass; payloads never leave the executor.

    Format variety (mirrors the PNG corpus): even ids encode as
    baseline, ids % 4 == 1 as PROGRESSIVE (SOF2, spectral selection),
    ids % 4 == 3 as progressive with SUCCESSIVE APPROXIMATION (Ah/Al
    refinement scans) — flat blocks decode identically in all three,
    so the same oracle grades the baseline, multi-scan spectral, and
    SA-refinement decode paths."""
    from tableone_pyspark_spark.plans.layout import rebalance

    # CPU-bound Arrow kernel: spread narrow inputs across all cores
    # (no-op when the source is already wide — the 100 TB case stays
    # shuffle-free)
    src = rebalance(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tableone_pyspark_spark.functions import jpeg as _jpeg

        for pdf in batches:
            ids, payloads = [], []
            for i, txt in zip(pdf["id"], pdf["txt"]):
                raw = txt.encode("utf-8")
                if not raw:
                    continue  # mirrored by length(text) > 0 in oracles
                vals = np.frombuffer(raw, dtype=np.uint8)[
                    np.arange(blocks, dtype=np.int64) % len(raw)
                ]
                arr = np.repeat(np.repeat(vals.reshape(-1, 1), 8, axis=0), 8, axis=1)
                ids.append(int(i))
                if int(i) % 4 == 3:
                    payloads.append(_jpeg.encode_jpeg_progressive_sa(arr))
                elif int(i) % 2 == 1:
                    payloads.append(_jpeg.encode_jpeg_progressive(arr))
                else:
                    payloads.append(_jpeg.encode_jpeg_gray(arr))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return src.mapInPandas(kernel, PNG_CORPUS_SCHEMA)


def synthesize_gif_corpus(
    df: DataFrame, id_col: str, text_col: str, w: int = 16, h: int = 16
) -> DataFrame:
    """GIF twin of :func:`synthesize_png_corpus`: pixel (r, c) of a
    w x h frame is byte ``(r*w + c) mod len`` of the row's text,
    encoded through an identity 256-gray palette — GIF is lossless
    (LZW over palette indices), so the decoded mean is the exact mean
    of those source bytes and the SAME SQL oracle arithmetic as the
    PNG corpus applies (channels always 3: palette expands to RGB).

    Format variety (all four grade through one oracle because pixels
    are identical): ODD ids write INTERLACED frames (4-pass row
    reorder), even ids sequential; ids % 4 == 2 write GIF87a headers,
    the rest GIF89a; ids % 4 == 1 prepend a Graphic Control Extension
    (delay only, no transparency — pixels unchanged) so the extension
    walker is exercised under grading. One Arrow pass; payloads never
    leave the executor."""
    from tableone_pyspark_spark.plans.layout import rebalance

    # CPU-bound Arrow kernel: spread narrow inputs across all cores
    # (no-op when the source is already wide — the 100 TB case stays
    # shuffle-free)
    src = rebalance(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tableone_pyspark_spark.functions import gif as _gif

        gray_pal = np.repeat(
            np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
        )
        for pdf in batches:
            ids, payloads = [], []
            for i, txt in zip(pdf["id"], pdf["txt"]):
                raw = txt.encode("utf-8")
                if not raw:
                    continue  # mirrored by length(text) > 0 in oracles
                idx = np.arange(w * h, dtype=np.int64) % len(raw)
                arr = np.frombuffer(raw, dtype=np.uint8)[idx].reshape(h, w)
                i = int(i)
                version = b"87a" if i % 4 == 2 else b"89a"
                if i % 4 == 1:
                    payload = _gif.encode_gif_animation(
                        [(arr, 0, 0, 0, 5, None)], gray_pal, w, h,
                        interlace=bool(i % 2), version=version,
                    )
                else:
                    payload = _gif.encode_gif(
                        arr, gray_pal, interlace=bool(i % 2), version=version
                    )
                ids.append(i)
                payloads.append(payload)
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return src.mapInPandas(kernel, PNG_CORPUS_SCHEMA)


def phash_neardup_pairs(
    df: DataFrame, id_col: str, bin_col: str, max_hamming: int = 3
) -> DataFrame:
    """Image near-dup pairs at scale: the :func:`image_phash` gradient
    signature fed through the SAME pigeonhole chunk join the SimHash
    family uses (`operators/dedup.py signature_neardup_pairs`) —
    candidate generation is an equi-join on signature chunks, never
    an all-pairs scan, and the exact ``bit_count(xor)`` verify leaves
    no false negatives within ``max_hamming``. Payloads never leave
    the executor (only the 63-bit signatures shuffle). Returns
    (id_a, id_b, hamming)."""
    from tableone_pyspark_spark.operators.dedup import signature_neardup_pairs

    sig = image_phash(df, id_col, bin_col)
    return signature_neardup_pairs(sig, "id", "dhash", max_hamming)
