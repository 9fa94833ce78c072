"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed through Arrow-batched ``mapInPandas``
kernels.

PPM/PGM, BMP, WAV, PNG **and baseline JPEG** decode FOR REAL via the
numpy codecs in functions/mediacodec.py (PNG inflates with the standard
library's native ``zlib``; chunk parsing and filter reversal are numpy)
and functions/jpegcodec.py (ITU-T T.81 sequential Huffman + fixed-point
integer IDCT, roundtrip- and pin-tested) — driver-gated end-to-end by
`multimodal_decode`, which pins pixel/sample statistics to a DuckDB
formula oracle. Only lossy AUDIO (MP3 — ffmpeg/librosa are not in this
container) remains the documented NotImplementedError boundary;
``fake=True`` keeps the deterministic stand-in for plumbing tests of
unrecognized formats.

Scale notes: binary payloads dominate row size — the operators project
metadata-only where possible (column pruning keeps payload bytes out of
shuffles), and mapInPandas streams batches without materializing a
partition. Decode cost: with the zlib layer native, the PNG path's cost
is the filter reversal (vectorized None/Sub/Up rows and the
anti-diagonal wavefront for Average/Paeth runs); BENCH/BASELINE.md holds
the measured MB/s. JPEG's Huffman entropy decode is still per-symbol
Python (functions/jpegcodec.py) — mass JPEG decode at corpus scale
belongs on a native codec mounted at ``decode_image``."""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decoder failure classes the fallback paths normalize: the codecs
# raise ValueError/NotImplementedError for recognized-but-bad or
# unsupported streams, but a TRUNCATED header dies inside struct.unpack /
# buffer indexing before any validation can see it (verified: decode_bmp
# on a cut-off header raises raw struct.error — ADVICE r5 medium), which
# previously killed the whole job even with fake_decode=True
_DECODE_ERRORS = (ValueError, NotImplementedError, struct.error, IndexError)

IMAGE_META_SCHEMA = (
    "url string, media_type string, byte_len long, width int, height int, "
    "channels int"
)

FEATURE_SCHEMA = IMAGE_META_SCHEMA + ", mean_intensity double, feature array<float>"


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata columns from the binary payload — pure expressions
    (length/prefix sniffing), no decode."""
    p = F.col(payload_col)
    magic = F.hex(F.substring(p, 1, 4))
    media_type = (
        F.when(magic.startswith("89504E47"), "image/png")
        .when(magic.startswith("FFD8"), "image/jpeg")
        .when(magic.startswith("52494646"), "audio/wav")
        .when(magic.startswith("5036") | magic.startswith("5035")
              | magic.startswith("5033") | magic.startswith("5032"),
              "image/x-portable-anymap")
        .when(magic.startswith("424D"), "image/bmp")
        .otherwise("application/octet-stream")
    )
    return df.withColumn("byte_len", F.length(p).cast("long")).withColumn(
        "media_type", media_type
    )


def _sniff_media_type(buf: bytes) -> str:
    """Python twin of attach_media_metadata's prefix sniffing."""
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        return "image/png"
    if buf[:2] == b"\xff\xd8":
        return "image/jpeg"
    if buf[:4] == b"RIFF":
        return "audio/wav"
    if buf[:1] == b"P" and buf[1:2] in b"23456":
        return "image/x-portable-anymap"
    if buf[:2] == b"BM":
        return "image/bmp"
    return "application/octet-stream"


def _fake_decode(buf: bytes) -> np.ndarray:
    """Deterministic stand-in decode: digest-seeded 8×8×3 'image'."""
    seed = int.from_bytes(hashlib.md5(buf).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def decode_image(buf: bytes, fake: bool = False) -> np.ndarray:
    """Real decode for PPM/PGM/BMP, PNG **and baseline JPEG** (dispatched
    on magic bytes; functions/mediacodec.py + functions/jpegcodec.py —
    PNG runs stdlib zlib's inflate + the numpy filter reversal, JPEG the
    from-scratch T.81 Huffman + fixed-point integer IDCT); a malformed
    stream raises ValueError (or a truncated-header ``struct.error`` /
    IndexError);
    NotImplementedError only for the remaining non-image/lossy-audio
    boundary unless ``fake=True`` requests the deterministic stand-in."""
    from linear_kdtree_spark.functions.jpegcodec import decode_jpeg
    from linear_kdtree_spark.functions.mediacodec import (
        decode_bmp,
        decode_png,
        decode_ppm,
    )

    buf = bytes(buf)
    try:
        if buf[:1] == b"P" and buf[1:2] in b"2356":
            img = decode_ppm(buf)
            return img if img.ndim == 3 else img[:, :, None]
        if buf[:2] == b"BM":
            return decode_bmp(buf)
        if buf[:8] == b"\x89PNG\r\n\x1a\n":
            img = decode_png(buf)
            return img if img.ndim == 3 else img[:, :, None]
        if buf[:2] == b"\xff\xd8":
            img = decode_jpeg(buf)
            return img if img.ndim == 3 else img[:, :, None]
    except _DECODE_ERRORS:
        # fake=True is the plumbing-test mode: malformed (including
        # truncated-header struct.error — ADVICE r5), non-baseline or
        # unsupported streams fall back to the stand-in there; in real
        # mode the decode error propagates
        if fake:
            return _fake_decode(buf)
        raise
    if fake:
        return _fake_decode(buf)
    raise NotImplementedError(
        "unrecognized media format; PPM/PGM/BMP/PNG/baseline-JPEG decode "
        "natively — pass fake=True for the deterministic stand-in on "
        "other formats"
    )


def decode_audio(buf: bytes):
    """(samples (N, ch), rate) for RIFF/WAVE payloads
    (functions/mediacodec.decode_wav)."""
    from linear_kdtree_spark.functions.mediacodec import decode_wav

    return decode_wav(bytes(buf))


def extract_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    url_col: str = "url",
    fake_decode: bool = True,
    feature_dim: int = 16,
) -> DataFrame:
    """Decode → per-image resize/statistics/feature vector, streamed through
    mapInPandas (one Arrow batch of binaries in, one batch of features out).
    Payloads the native codecs handle (PPM/PGM/BMP/PNG/baseline-JPEG) are
    really decoded and report their sniffed media_type; anything else
    falls back to the deterministic stand-in (media_type 'image/fake')
    when ``fake_decode=True``, or raises at task time when False."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, buf in zip(pdf[url_col], pdf[payload_col]):
                buf = bytes(buf)
                # media_type reports what actually happened: the sniffed
                # real format when the codec decoded it, 'image/fake' ONLY
                # when the stand-in ran (it was previously hardcoded to
                # 'image/fake' even for real decodes — review r5)
                try:
                    img = decode_image(buf, fake=False)
                    mtype = _sniff_media_type(buf)
                except _DECODE_ERRORS:
                    if not fake_decode:
                        raise
                    img = _fake_decode(buf)
                    mtype = "image/fake"
                h, w, c = img.shape
                flat = img.astype(np.float32).reshape(-1)
                if len(flat) < feature_dim:
                    # tiny-but-valid images (1x1..3x3) would otherwise pool
                    # over zero groups and emit all-NaN features (review
                    # r5); edge-pad deterministically to one value/slot
                    flat = np.pad(flat, (0, feature_dim - len(flat)),
                                  mode="edge")
                # "resize": average-pool to feature_dim values
                pooled = flat[: (len(flat) // feature_dim) * feature_dim].reshape(
                    feature_dim, -1
                ).mean(axis=1)
                rows.append(
                    {
                        "url": url,
                        "media_type": mtype,
                        "byte_len": len(buf),
                        "width": w,
                        "height": h,
                        "channels": c,
                        "mean_intensity": float(img.mean()),
                        "feature": pooled.astype(np.float32).tolist(),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(url_col, payload_col).mapInPandas(kernel, FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    url_col: str = "url",
    every_nth: int = 4,
    frame_size: int = 256,
) -> DataFrame:
    """Video-style frame sampling plumbing: treat the binary as a
    concatenation of fixed-size 'frames', emit every n-th as its own row
    (url, frame_no, frame binary) — posexplode over a pure byte-slicing
    expression, no Python."""
    p = F.col(payload_col)
    n_frames = F.floor(F.length(p) / frame_size).cast("int")
    # payloads shorter than one complete frame must yield NO rows — a bare
    # sequence(0, greatest(n-1, 0)) still emits frame_no=0 (truncated bytes)
    idx = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1)
    ).otherwise(F.array().cast("array<int>"))
    sampled = F.filter(idx, lambda i: i % every_nth == 0)
    # keep the ORIGINAL frame index alongside the bytes (posexplode would
    # renumber positions within the sampled array)
    frames = F.transform(
        sampled,
        lambda i: F.struct(
            i.cast("int").alias("frame_no"),
            F.substring(p, (i * frame_size + 1).cast("int"), frame_size)
            .cast("binary")
            .alias("frame"),
        ),
    )
    return df.select(url_col, F.explode(frames).alias("f")).select(
        url_col, F.col("f.frame_no").alias("frame_no"), F.col("f.frame").alias("frame")
    )
