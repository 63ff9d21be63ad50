"""Multimodal column plumbing + real pure-Python codecs (SURVEY.md §2.L8).

Image/audio/video payloads are opaque ``binary`` columns + a typed
metadata struct. The Spark-side plumbing — schema, partition-friendly
layout, Arrow-batched UDF signatures, batch shapes — is real and tested.

Codecs: seven public formats are decoded for real, with no third-party
libraries — binary **PPM (P6)**, **PNG** (stdlib zlib inflate + all five
filters), **baseline-sequential JPEG** (table-driven Huffman + numpy
IDCT), **BMP**, **animated GIF** (LZW + compositing) — see
operators/imagecodec.py — **lossless WebP/VP8L**
(operators/webpcodec.py), and **RIFF/WAV** audio (8/16-bit PCM +
G.711 µ-law/A-law). ``image_features`` / ``audio_features`` /
``audio_spectral_features`` run them inside mapInPandas, one Arrow
batch per core. Lossy WebP (VP8 keyframes) decodes via
operators/vp8codec.py — real keyframe machinery, with the empirical
probability tables as documented stand-ins (its module docstring).
Formats that genuinely need codec libraries (MP3/H.264) still raise
NotImplementedError from ``decode_image`` — honest boundary, the
dataflow is identical. ``extract_features`` remains the deterministic
hash-projection embedding stand-in for arbitrary payloads (SURVEY §2.L9
specifies the stub); the decode paths below are the real L8 surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

# Canonical multimodal schema: payload + typed metadata.
MULTIMODAL_SCHEMA = Ty.StructType(
    [
        Ty.StructField("asset_id", Ty.LongType(), False),
        Ty.StructField("content", Ty.BinaryType(), True),
        Ty.StructField(
            "meta",
            Ty.StructType(
                [
                    Ty.StructField("mime", Ty.StringType(), True),
                    Ty.StructField("width", Ty.IntegerType(), True),
                    Ty.StructField("height", Ty.IntegerType(), True),
                    Ty.StructField("n_bytes", Ty.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def to_multimodal(df: DataFrame, key: str, payload_col: str, mime: str) -> DataFrame:
    """Wrap an arbitrary binary/string column into the canonical
    multimodal shape (ingestion adapter)."""
    content = F.col(payload_col).cast("binary")
    return df.select(
        F.col(key).cast("long").alias("asset_id"),
        content.alias("content"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(content).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Real pure-Python codecs: PPM (P6) and WAV PCM
# ---------------------------------------------------------------------------


def _ppm_tokens(buf: bytes, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated integer header tokens from a PPM,
    skipping ``#`` comments; returns (tokens, offset past final token's
    single trailing whitespace byte)."""
    toks: list[int] = []
    i = 0
    while len(toks) < n:
        if i >= len(buf):
            raise ValueError("truncated PPM header")
        c = buf[i : i + 1]
        if c == b"#":
            while i < len(buf) and buf[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(buf) and not buf[j : j + 1].isspace():
                j += 1
            toks.append(int(buf[i:j]))
            i = j + (1 if len(toks) == n else 0)  # final token: exactly one ws
    return toks, i


def decode_ppm(content: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a binary PPM (P6): returns (width, height, uint8 array of
    shape (height, width, 3)). Pure Python + numpy, no codec libraries."""
    if content[:2] != b"P6":
        raise ValueError(f"not a P6 PPM: magic {content[:2]!r}")
    (width, height, maxval), off = _ppm_tokens(content[2:], 3)
    off += 2
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    n = width * height * 3
    raster = content[off : off + n]
    if len(raster) != n:
        raise ValueError(f"PPM raster truncated: {len(raster)} != {n}")
    return width, height, np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM (P6)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def _mulaw_table() -> np.ndarray:
    """G.711 µ-law code → linear int16 expansion (256-entry table):
    mag = (((mantissa << 3) + 132) << exponent) − 132, sign from bit 7 of
    the complemented code. Silence (0xFF) decodes to exactly 0."""
    codes = np.arange(256, dtype=np.int64)
    u = ~codes & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 7
    mant = u & 0xF
    mag = (((mant << 3) + 132) << exp) - 132
    return np.where(sign, -mag, mag).astype(np.int64)


def _alaw_table() -> np.ndarray:
    """G.711 A-law code → linear int16 (256-entry table): XOR 0x55, then
    segment expansion; bit 7 SET means positive (opposite of µ-law)."""
    codes = np.arange(256, dtype=np.int64)
    a = codes ^ 0x55
    positive = (a & 0x80) != 0
    exp = (a >> 4) & 7
    mant = a & 0xF
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(positive, mag, -mag).astype(np.int64)


def decode_wav(content: bytes) -> tuple[int, int, np.ndarray]:
    """Decode RIFF/WAV — linear PCM (8/16-bit) plus G.711 µ-law and
    A-law telephony formats: returns (sample_rate, n_channels, float64
    samples in [-1, 1] of shape (n_frames, n_channels)). Walks the chunk
    list properly (handles extra chunks, word alignment)."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 1:
        if bits == 16:
            samples = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2") / 32768.0
        elif bits == 8:
            samples = (np.frombuffer(data, dtype=np.uint8) - 128.0) / 128.0
        else:
            raise ValueError(f"only 8/16-bit PCM supported, bits={bits}")
    elif audio_format in (6, 7):  # G.711 A-law / µ-law telephony
        table = _alaw_table() if audio_format == 6 else _mulaw_table()
        samples = table[np.frombuffer(data, dtype=np.uint8)] / 32768.0
    else:
        raise ValueError(f"only PCM/A-law/µ-law supported, format={audio_format}")
    n_frames = len(samples) // n_channels
    return sample_rate, n_channels, samples[: n_frames * n_channels].reshape(
        n_frames, n_channels
    )


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode float samples in [-1, 1] (1-D mono or (frames, ch)) as
    16-bit PCM WAV."""
    arr = np.atleast_2d(np.asarray(samples, dtype=np.float64))
    if arr.shape[0] == 1 and arr.ndim == 2 and np.asarray(samples).ndim == 1:
        arr = arr.T
    n_ch = arr.shape[1]
    pcm = np.clip(np.round(arr * 32768.0), -32768, 32767).astype("<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + n_ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * n_ch * 2).to_bytes(4, "little")
        + (n_ch * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(pcm).to_bytes(4, "little") + pcm
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_image(content: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an image payload by magic sniffing into (width, height,
    RGB uint8 (H, W, 3)). PPM (P6), PNG, baseline JPEG, BMP, GIF,
    lossless WebP (VP8L) and lossy WebP (VP8 keyframes; stand-in
    probability tables, see operators/vp8codec.py) all decode with zero
    third-party libraries (operators/imagecodec.py, webpcodec.py,
    vp8codec.py); grayscale replicates to RGB and alpha is dropped.
    Formats that genuinely need external codecs (MP3/H.264) raise —
    that boundary is honest, the mapInPandas dataflow is identical.

    Lossy-WebP boundary (loud, not silent): the VP8 probability/dequant
    tables are documented deterministic STAND-INS, so only streams from
    THIS repo's encoder (which stamps the version-3 dialect marker)
    decode; real-world VP8 (version 0-2, e.g. cwebp output) raises
    NotImplementedError instead of mis-decoding to garbage."""
    from . import imagecodec

    if content[:2] == b"P6":
        return decode_ppm(content)
    if content[:8] == imagecodec._PNG_SIG:
        w, h, px = imagecodec.decode_png(bytes(content))
        if px.shape[2] == 1:
            px = np.repeat(px, 3, axis=2)
        elif px.shape[2] == 2:  # gray + alpha
            px = np.repeat(px[:, :, :1], 3, axis=2)
        elif px.shape[2] == 4:  # drop alpha
            px = px[:, :, :3]
        return w, h, px
    if content[:2] == b"\xff\xd8":
        return imagecodec.decode_jpeg(bytes(content))
    if content[:2] == b"BM":
        return imagecodec.decode_bmp(bytes(content))
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return imagecodec.decode_gif(bytes(content))
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from . import webpcodec

        w, h, px = webpcodec.decode_webp(bytes(content))
        return w, h, px[:, :, :3]
    # full 4-byte TIFF magic (byte order + the 42): a 2-byte 'II'/'MM'
    # sniff would swallow unrelated formats into decode_tiff's ValueError
    # instead of the directed NotImplementedError below
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return imagecodec.decode_tiff(bytes(content))
    raise NotImplementedError(
        f"no pure-Python decoder for magic {bytes(content[:4])!r}; "
        "MP3/H.264 need external codec libraries, not present here"
    )


def _fake_feature_row(content: bytes) -> list[float]:
    """Deterministic stand-in for a feature extractor: FEATURE_DIM floats
    derived from an md5 of the payload. Same signature/batch shape as a
    real CNN embedding."""
    import hashlib

    if content is None:
        return [0.0] * FEATURE_DIM
    d = hashlib.md5(bytes(content)).digest()
    return [d[i % 16] / 255.0 for i in range(FEATURE_DIM)]


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over multimodal rows: iterator of
    Arrow batches in/out — constant memory, schema declared explicitly.
    Swap ``_fake_feature_row`` for a real model call in production."""
    schema = "asset_id long, features array<float>, n_bytes long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "features": pdf["content"].map(_fake_feature_row),
                    "n_bytes": pdf["content"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                }
            )

    return df.mapInPandas(fn, schema)


def image_features(df: DataFrame) -> DataFrame:
    """REAL image decode + feature extraction over multimodal rows
    (PPM/PNG/JPEG payloads, sniffed by magic): mapInPandas, one Arrow
    batch per core, emits (asset_id, width, height, mean_r, mean_g,
    mean_b, n_bytes). Per-channel means are float64 over all pixels,
    rounded 6dp — exact for solid-color lossless fixtures,
    closed-form-checkable for gradients."""
    schema = (
        "asset_id long, width int, height int, "
        "mean_r double, mean_g double, mean_b double, n_bytes long"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                w, h, px = decode_image(bytes(content))
                mr, mg, mb = px.astype(np.float64).mean(axis=(0, 1))
                rows.append(
                    (aid, w, h, round(mr, 6), round(mg, 6), round(mb, 6), len(content))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "width", "height",
                    "mean_r", "mean_g", "mean_b", "n_bytes",
                ],
            )

    return df.mapInPandas(fn, schema)


def try_image_features(df: DataFrame) -> DataFrame:
    """Fault-tolerant :func:`image_features`: per-ROW try-decode with an
    error class instead of a task failure. On a 100 TB crawl corpus some
    payloads are truncated mid-chunk, carry lying headers, are zero
    bytes, or are formats without a decoder — one such row must cost one
    output row, never a 10-hour job. Emits
    (asset_id, status, width, height, mean_r, mean_g, mean_b, n_bytes);
    decode columns are NULL unless status = 'ok'.

    status classes: 'ok' (decoded), 'empty' (NULL or zero-byte payload),
    'unsupported' (decode_image's directed NotImplementedError — magic
    with no pure-Python decoder), 'corrupt' (any other decode error:
    truncated stream, bad IDAT size for the declared dimensions,
    malformed chunks). The split matters operationally: 'unsupported' is
    a capability gap to route elsewhere, 'corrupt' is data loss to
    quarantine."""
    schema = (
        "asset_id long, status string, width int, height int, "
        "mean_r double, mean_g double, mean_b double, n_bytes long"
    )
    cols = [
        "asset_id", "status", "width", "height",
        "mean_r", "mean_g", "mean_b", "n_bytes",
    ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                nb = 0 if content is None else len(content)
                if nb == 0:
                    rows.append((aid, "empty", None, None, None, None, None, nb))
                    continue
                try:
                    w, h, px = decode_image(bytes(content))
                    mr, mg, mb = px.astype(np.float64).mean(axis=(0, 1))
                    rows.append(
                        (aid, "ok", w, h,
                         round(mr, 6), round(mg, 6), round(mb, 6), nb)
                    )
                except NotImplementedError:
                    rows.append(
                        (aid, "unsupported", None, None, None, None, None, nb)
                    )
                except Exception:
                    rows.append(
                        (aid, "corrupt", None, None, None, None, None, nb)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(fn, schema)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode + feature extraction (WAV PCM payloads): emits
    (asset_id, sample_rate, n_channels, duration_s, mean_abs, rms).
    duration_s = frames / rate; mean_abs and rms over all samples, 6dp."""
    schema = (
        "asset_id long, sample_rate int, n_channels int, "
        "duration_s double, mean_abs double, rms double"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                rate, n_ch, samples = decode_wav(bytes(content))
                rows.append(
                    (
                        aid, rate, n_ch,
                        round(samples.shape[0] / rate, 6),
                        round(float(np.abs(samples).mean()), 6),
                        round(float(np.sqrt((samples**2).mean())), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "sample_rate", "n_channels",
                    "duration_s", "mean_abs", "rms",
                ],
            )

    return df.mapInPandas(fn, schema)


def resize_image(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor resize of PPM payloads (numpy integer
    indexing, no codec libs): content is re-encoded PPM at (out_w, out_h),
    meta carries the new dims. Same canonical multimodal schema out."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                w, h, px = decode_ppm(bytes(content))
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                resized = encode_ppm(px[ys][:, xs])
                out.append(
                    (
                        aid,
                        resized,
                        {
                            "mime": "image/x-portable-pixmap",
                            "width": out_w,
                            "height": out_h,
                            "n_bytes": len(resized),
                        },
                    )
                )
            yield pd.DataFrame(out, columns=["asset_id", "content", "meta"])

    return df.mapInPandas(fn, MULTIMODAL_SCHEMA)


def frame_extract(df: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL video-frame sampling over multi-frame containers, sniffed by
    magic: animated **GIF** (true LZW-compressed container with per-frame
    compositing, operators/imagecodec.py) and the naive "concatenated
    equal-size PPM frames" layout. Every ``every_n``-th composited frame
    is re-encoded standalone (PPM) and emitted as (asset_id, frame_idx,
    frame). Demux + decode happen Python-side per Arrow batch; an MP4
    demuxer would slot into the same shape."""
    frame_schema = "asset_id long, frame_idx int, frame binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import imagecodec

        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                buf = bytes(content)
                if buf[:6] in (b"GIF87a", b"GIF89a"):
                    _w, _h, frames = imagecodec.decode_gif_frames(buf)
                    for idx in range(0, len(frames), every_n):
                        rows.append((aid, idx, encode_ppm(frames[idx])))
                    continue
                w, h, _ = decode_ppm(buf)  # validates 1st frame, gives dims
                hdr = buf.index(b"\n255\n") + 5
                fsize = hdr + w * h * 3
                for idx in range(0, len(buf) // fsize, every_n):
                    rows.append((aid, idx, buf[idx * fsize : (idx + 1) * fsize]))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "frame"])

    return df.mapInPandas(fn, frame_schema)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling PLUMBING: expands each asset into frame-index
    rows (decode stubbed). Real decoding happens in extract_features-style
    batches downstream; here we materialize the (asset_id, frame_idx) plan
    JVM-side so the expensive Python step sees pre-pruned work."""
    n_frames = (F.length(F.col("content")) / every_n).cast("int")
    return df.select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias(
            "frame_idx"
        ),
    ).withColumn("byte_offset", F.col("frame_idx") * every_n)


def phash64(pixels: np.ndarray) -> tuple[int, int]:
    """Perceptual DCT hash of an (h, w, 3) uint8 image — the image-domain
    member of the near-dup signature family (SimHash:text :: pHash:image).

    Classic pHash recipe: grayscale → 32×32 resample (floor-index grid:
    deterministic for any source size) → 2-D DCT-II via the explicit
    cosine basis (numpy only) → keep the 8×8 low-frequency block →
    threshold each coefficient against the median of the 63 non-DC
    coefficients. Small photometric/geometric perturbations flip few
    bits, so Hamming distance measures visual similarity. Returns the 64
    bits as two 32-bit halves matching the SimHash column convention, so
    ``dedup.simhash_near_pairs`` banding works unchanged on images.
    """
    g = pixels.astype(np.float64).mean(axis=2)
    h, w = g.shape
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    s = g[np.ix_(yi, xi)]
    n = 32
    j = np.arange(n)
    basis = np.cos(np.pi * (2 * j[None, :] + 1) * j[:, None] / (2 * n))
    d = basis @ s @ basis.T
    coefs = d[:8, :8].ravel()
    med = float(np.median(coefs[1:]))
    bits = 0
    for i, v in enumerate(coefs):
        if v > med:
            bits |= 1 << i
    return bits & 0xFFFFFFFF, (bits >> 32) & 0xFFFFFFFF


def phash64_fixed(pixels: np.ndarray) -> tuple[int, int]:
    """Fixed-point twin of :func:`phash64` — every step is exact int64
    arithmetic, so the hash is bit-reproducible in ANY engine (the
    l2d/l2e quantized-oracle playbook applied to images):

    - grayscale = channel SUM (0..765), no float division
    - 32×32 floor-index resample (same grid as phash64)
    - DCT basis quantized to ints: C[u,i] = round(cos(π(2i+1)u/64)·10⁴)
      (the table is engine-identical — every entry sits ≥0.011 from a
      rounding boundary, asserted in tests/test_multimodal.py)
    - two-stage integer matmul T = C·s, D = T·Cᵀ (|D| ≤ 765·32²·10⁸
      ≈ 8·10¹³, far inside int64)
    - median = the 32nd-smallest (0-indexed 31) of the 63 non-DC
      coefficients — an order statistic, no float interpolation
    - bit i (row-major u·8+v) set iff coef > median; SimHash two-half
      layout.

    Bit flips vs phash64 happen where a coefficient sits within the
    accumulated quantization band of the median (measured ≤ 7 of 64 bits
    on the l45 gradient fixtures; Hamming-closeness pinned in tests) —
    irrelevant for the near-dup contract, which thresholds on Hamming
    distance anyway. Production keeps phash64; this twin exists so the
    image-hash pipeline is value-checkable against a SQL oracle end to
    end."""
    g3 = pixels.astype(np.int64).sum(axis=2)
    h, w = g3.shape
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    s = g3[np.ix_(yi, xi)]
    j = np.arange(32)
    u = np.arange(8)
    c = np.round(np.cos(np.pi * (2 * j[None, :] + 1) * u[:, None] / 64) * 10_000
                 ).astype(np.int64)
    d = c @ s @ c.T  # (8, 8) exact int64
    coefs = d.ravel()
    med = int(np.sort(coefs[1:])[31])
    bits = 0
    for i, v in enumerate(coefs):
        if int(v) > med:
            bits |= 1 << i
    return bits & 0xFFFFFFFF, (bits >> 32) & 0xFFFFFFFF


def image_phash(df: DataFrame, key: str = "asset_id") -> DataFrame:
    """Decode each image payload (any supported codec via magic sniffing)
    and emit its perceptual hash in SimHash two-half layout:
    (key, simhash_lo, simhash_hi). mapInPandas — bytes stay executor-side;
    the shuffle-facing output is 16 bytes per image."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf[key], pdf["content"]):
                _w, _h, px = decode_image(bytes(payload))
                lo, hi = phash64(px)
                rows.append((int(k), lo, hi))
            yield pd.DataFrame(rows, columns=[key, "simhash_lo", "simhash_hi"])

    return df.mapInPandas(run, f"{key} long, simhash_lo long, simhash_hi long")


def audio_spectral_features(df: DataFrame) -> DataFrame:
    """REAL signal processing on decoded audio (the step beyond
    audio_features' container metadata): per asset, the dominant
    frequency (argmax of the numpy rFFT magnitude over the first
    channel, DC excluded) and the spectral centroid — the classic cheap
    audio descriptors for dedup/bucketing. Deterministic: FFT of fixed
    input is bit-stable, argmax over it more so; tone fixtures aligned
    to FFT bins make the result closed-form ORACLE-checkable.
    Emits (asset_id, sample_rate, n_samples, dominant_hz, centroid_hz).
    """
    schema = (
        "asset_id long, sample_rate int, n_samples long, "
        "dominant_hz double, centroid_hz double"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                sr, _ch, samples = decode_wav(bytes(content))
                x = samples[:, 0].astype(np.float64)
                n = len(x)
                mag = np.abs(np.fft.rfft(x))
                mag[0] = 0.0  # exclude DC
                k = int(np.argmax(mag))
                dom = k * sr / n
                denom = float(mag.sum())
                cent = (
                    float((np.arange(len(mag)) * mag).sum()) / denom * sr / n
                    if denom > 0
                    else 0.0
                )
                rows.append((int(aid), int(sr), n, round(dom, 6), round(cent, 6)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "sample_rate",
                    "n_samples",
                    "dominant_hz",
                    "centroid_hz",
                ],
            )

    return df.select("asset_id", "content").mapInPandas(fn, schema)


def thumbnail_box(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Exact box-average downscale of image payloads (the antialiased
    thumbnail for vision-training prep; :func:`resize_image` above is the
    nearest-neighbor sampler): (asset_id, content) -> (asset_id, width,
    height, frame) where frame is the resized image re-encoded as PPM.

    Requires integer block factors (src dims divisible by out dims) and
    uses PURE INTEGER arithmetic — channel = (block_sum + block//2) //
    block, i.e. round-half-up nearest (ties impossible for odd block
    sizes) — so the result is bit-identical everywhere and closed-form
    checkable on synthetic fixtures. mapInPandas; bytes stay
    executor-side. Fractional-factor resampling (bilinear/Lanczos) is a
    quality choice out of scope for the exactness contract here."""
    schema = "asset_id long, width int, height int, frame binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                w, h, px = decode_image(bytes(content))
                if w % out_w or h % out_h:
                    raise ValueError(
                        f"thumbnail_box needs integer block factors: "
                        f"{w}x{h} -> {out_w}x{out_h}"
                    )
                fy, fx = h // out_h, w // out_w
                block = fy * fx
                s = (
                    px.astype(np.int64)
                    .reshape(out_h, fy, out_w, fx, 3)
                    .sum(axis=(1, 3))
                )
                small = ((s + block // 2) // block).astype(np.uint8)
                rows.append((aid, out_w, out_h, encode_ppm(small)))
            yield pd.DataFrame(
                rows, columns=["asset_id", "width", "height", "frame"]
            )

    return df.mapInPandas(fn, schema)
