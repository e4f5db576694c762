"""Multimodal column plumbing: binary payloads + typed metadata.

Images/audio/video are treated as opaque ``binary`` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` so each executor
processes whole record batches.

Codec libraries (PIL/librosa/ffmpeg) are NOT available in this
container. The decode step is therefore pluggable: ``decode_stub=True``
derives deterministic fake features from the bytes (plumbing testable
without any codec), ``decode_stub=False`` without a codec raises at the
exact plug-in point, and ``codec=`` injects a real decoder —
``operators/codecs.py`` ships pure-numpy BMP (24-bit) and WAV (PCM16)
decoders, so image and audio have a REAL in-sandbox decode path
(``synthesize_real_media_table`` below builds genuine container bytes
for it). Video has a REAL uncompressed-AVI path (codecs.encode_avi/decode_avi + sample_frames); compressed codecs stay behind the seam pending ffmpeg.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes int, feature array<float>"

# Synthesis floor: keep at least this many rows per Python task. A
# ``spark.range(n)`` defaults to one partition per core, so a small
# media table fans 2-3 rows to each of 32 Python workers and the
# per-task Arrow/worker round trip dominates (measured r7: the 80-row
# codec query fell 6.1 s -> 0.6 s going 32 -> 4 synthesis partitions).
# Large n is untouched: the partition count caps at the session's
# default parallelism, so cluster-scale tables keep full fan-out.
_SYNTH_ROWS_PER_TASK = 16


def _synth_partitions(spark, n: int) -> int:
    return max(1, min(spark.sparkContext.defaultParallelism,
                      n // _SYNTH_ROWS_PER_TASK))


def synthesize_media_table(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media rows (binary payload derived from id)."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    df = spark.range(0, n, 1, _synth_partitions(spark, n)).select(
        F.col("id").alias("media_id"),
        F.element_at(kinds, (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int")).alias("kind"),
        F.sha2(F.concat(F.lit(seed), F.col("id").cast("string")), 256)
        .cast("binary")
        .alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod(F.col("id") * 37, F.lit(1920)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("id") * 53, F.lit(1080)) + 16).cast("int").alias("height"),
        (F.pmod(F.col("id") * 97, F.lit(60000))).cast("int").alias("duration_ms"),
    )
    return df


def synthesize_real_media_table(spark, n: int = 64) -> DataFrame:
    """Header-valid REAL container payloads (images for even ids —
    alternating uncompressed 24-bit BMP and zlib-compressed PNG with
    mixed scanline filters — PCM16 WAV for odd ids), built
    Arrow-batched from a deterministic closed-form content formula an
    independent engine can replicate:

      image (id even): w = id%5+2, h = id%4+2,
                       pixel[y,x,c] = (id*31 + y*7 + x*3 + c) % 256
                       (id%4==0 → BMP, id%4==2 → PNG, same pixels)
      WAV   (id odd):  n_samples = id%50+10, rate 8000,
                       sample[i] = ((id*131 + i*17) % 65536) - 32768

    Decoding these through the real codecs and summing the recovered
    content against the formula proves the parsers reproduce every
    pixel/sample — including the full zlib-inflate + unfilter PNG path
    (every filter type exercised via filters="mixed") — the
    oracle-checkable 'real decode' path. The oracle never parses a
    container: it derives the sums straight from the formula, so it is
    identical for both image containers."""
    from datapact_spark.operators.codecs import encode_bmp, encode_png, encode_wav

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid in pdf["id"]:
                mid = int(mid)
                if mid % 2 == 0:
                    w, h = mid % 5 + 2, mid % 4 + 2
                    y, x, c = np.mgrid[0:h, 0:w, 0:3]
                    px = ((mid * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8)
                    if mid % 4 == 0:
                        payload, mime = encode_bmp(px), "image/bmp"
                    else:
                        payload, mime = encode_png(px, filters="mixed"), "image/png"
                    kind = "image"
                else:
                    i = np.arange(mid % 50 + 10, dtype=np.int64)
                    samples = ((mid * 131 + i * 17) % 65536 - 32768).astype(np.int16)
                    payload, kind, mime = encode_wav(samples), "audio", "audio/wav"
                out.append((mid, kind, payload, mime))
            yield pd.DataFrame(out, columns=["media_id", "kind", "payload", "mime"])

    return spark.range(0, n, 1, _synth_partitions(spark, n)).mapInPandas(
        build, schema="media_id long, kind string, payload binary, mime string"
    )


def extract_features(
    media: DataFrame,
    feature_dim: int = 8,
    decode_stub: bool = True,
    codec=None,
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    ``codec`` is the plug-in seam: any callable ``bytes ->
    np.ndarray[float32]`` (e.g. a PIL/librosa/ffmpeg pipeline) — it is
    pickled to the executors and applied per payload inside the Arrow
    batch loop. With no codec, ``decode_stub=True`` derives
    deterministic fake features (plumbing fully testable in-sandbox) and
    ``decode_stub=False`` raises at the exact plug-in point. The
    Spark-side contract (batch iterator in/out, ``FEATURE_SCHEMA``) is
    identical in all three modes.
    """

    def _fake_decode(payload: bytes) -> np.ndarray:
        # deterministic pseudo-features from a chained digest of the
        # bytes; the chain extends past one sha256 block so any
        # feature_dim is honored (a single digest is 32 bytes = 8 floats)
        need = feature_dim * 4
        digest = b""
        block = hashlib.sha256(payload).digest()
        while len(digest) < need:
            digest += block
            block = hashlib.sha256(block).digest()
        raw = np.frombuffer(digest[:need], dtype=np.uint32)
        return (raw % 1000).astype(np.float32) / 1000.0

    decode = codec if codec is not None else _fake_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if codec is None and not decode_stub:
                raise NotImplementedError(
                    "real media decode requires PIL/librosa/ffmpeg — not in "
                    "sandbox; inject one via the `codec` callable"
                )
            feats = pdf["payload"].map(lambda b: np.asarray(decode(bytes(b))).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def synthesize_real_video_table(spark, n: int = 40) -> DataFrame:
    """Header-valid REAL uncompressed-AVI payloads, Arrow-batched from
    a deterministic closed-form content formula an independent engine
    can replicate:

      frames = id%3+2, w = id%4+2, h = id%3+2, fps 10,
      pixel[f,y,x,c] = (id*13 + f*29 + y*7 + x*3 + c) % 256

    Decoding through ``decode_avi`` and summing pixels over the
    deterministic frame sample proves the container parser and the
    frame sampler recover content bit-exactly — the video edition of
    the BMP/WAV/PNG real-decode oracle."""
    from datapact_spark.operators.codecs import encode_avi

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid in pdf["id"]:
                mid = int(mid)
                nf, w, h = mid % 3 + 2, mid % 4 + 2, mid % 3 + 2
                f, y, x, c = np.mgrid[0:nf, 0:h, 0:w, 0:3]
                px = ((mid * 13 + f * 29 + y * 7 + x * 3 + c) % 256).astype(
                    np.uint8
                )
                out.append((mid, "video", encode_avi(px, fps=10), "video/avi"))
            yield pd.DataFrame(
                out, columns=["media_id", "kind", "payload", "mime"]
            )

    return spark.range(0, n, 1, _synth_partitions(spark, n)).mapInPandas(
        build, schema="media_id long, kind string, payload binary, mime string"
    )

