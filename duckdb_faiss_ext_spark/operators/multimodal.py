"""Multimodal (image/audio/video) column plumbing for training-data pipelines.

Design (BASELINE.json north star):

- payloads are opaque BINARY columns + a typed metadata struct
  (modality/format/width/height/duration_ms/sample_rate), the standard
  lakehouse layout for mixed media;
- decode / feature-extract / resize / frame-sample run as ``mapInPandas``
  over Arrow batches — bytes never pass through Python row-at-a-time;
- batches are size-bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  and ``maxPartitionBytes`` so a partition of large blobs still fits executor
  memory; repartition by id before heavy extraction for even load.

Decode is REAL for the public formats a stdlib-only codec can parse
exactly — PPM (P6), 24-bit BMP, 8-bit PNG (zlib inflate + numpy unfilter),
baseline JPEG (pure-numpy Huffman + IDCT, operators/jpeg.py), PCM16 WAV
(operators/media_codecs.py, dispatched by magic bytes per row).
Formats with no codec in this runtime (MP3/MP4 sample data) fall back:
``extract_features`` takes the deterministic seeded stub embed for them
(pinned by tests; same for corrupt payloads of decodable formats), and
``resize_images``/``sample_frames`` treat them as metadata-only — swapping
in PIL/ffmpeg on a richer cluster image replaces only media_codecs
functions; every signature here is the contract.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from duckdb_faiss_ext_spark.session import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("fmt", StringType(), True),  # jpeg | png | wav | mp4 ...
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("content_hash", StringType(), False),
        StructField("feature", ArrayType(FloatType()), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("ts_ms", IntegerType(), False),
        StructField("frame_payload", BinaryType(), False),
    ]
)

# formats decoded by the REAL pure-numpy codecs (media_codecs.py); others
# fall back to the deterministic stub embed below
REAL_DECODE_FORMATS = frozenset({"ppm", "bmp", "png", "wav"})


def _decode_stub(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic fake 'decode + embed' for formats WITHOUT a codec in
    this runtime (JPEG/MP3/MP4 ...): sha256-seeded feature vector with the
    exact shape/dtype contract a real decoder has — float32[dim]."""
    h = hashlib.sha256(payload or b"").digest()
    seed = int.from_bytes(h[:8], "big") % (2**32)
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32)


def _embed_payload(payload: bytes, dim: int) -> np.ndarray:
    """Real decode + deterministic embed when a codec exists (magic-byte
    dispatch), stub embed otherwise.

    A payload whose first bytes sniff as a decodable format but whose body
    is corrupt/truncated ALSO takes the stub embed: at corpus scale one bad
    row must not fail the whole extraction job, and the module contract is
    'stub for everything else'.  Strict per-row decoding lives in
    resize_images(strict=True)."""
    from duckdb_faiss_ext_spark.operators import media_codecs as C

    kind = C.sniff_format(payload)
    try:
        if kind in C.IMAGE_FORMATS:
            return C.image_grid_feature(C.decode_image(payload), dim)
        if kind == "wav":
            samples, _sr = C.decode_wav(payload)
            return C.audio_energy_feature(samples, dim)
    except C.MediaDecodeError:
        pass  # malformed despite the magic: fall through to the stub
    return _decode_stub(payload, dim)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """payload -> (n_bytes, content_hash, feature float32[dim]) per media row.

    Arrow-batched mapInPandas: numpy work per batch, no row-at-a-time Python.
    PPM/BMP/PNG payloads embed as a grayscale grid of block means over REAL
    pixels; WAV as windowed RMS energies over REAL samples; formats with no
    codec in this runtime take the seeded stub embed (media_codecs.py is the
    swap point for richer cluster images)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            feats = [_embed_payload(p, dim) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) for p in payloads],
                    "content_hash": [
                        hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                    "feature": [f.tolist() for f in feats],
                }
            )

    return df.select("media_id", "modality", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def resize_images(
    df: DataFrame, width: int, height: int, strict: bool = False
) -> DataFrame:
    """REAL image resize for decodable payloads: PPM/BMP/PNG pixels are decoded
    (media_codecs.py), nearest-neighbor resampled to (width, height) and
    re-encoded as PPM — payload, fmt, width and height all update.

    Payloads with no codec in this runtime (JPEG ...) pass through with
    metadata-only dims by default — the storage-planning shape real
    pipelines run before the codec-bound pixel pass; ``strict=True`` makes
    them raise instead (no silent partial processing when the caller needs
    pixels)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from duckdb_faiss_ext_spark.operators import media_codecs as C

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            payloads, fmts = [], []
            for p, fmt in zip(pdf["payload"], pdf["fmt"]):
                raw = bytes(p) if p is not None else b""
                if C.sniff_format(raw) in C.IMAGE_FORMATS:
                    try:
                        pixels = C.resize_nearest(C.decode_image(raw), width, height)
                    except C.MediaDecodeError:
                        # sniffed decodable but malformed: strict callers want
                        # the loud error, pipelines want the row passed through
                        if strict:
                            raise
                        payloads.append(raw)
                        fmts.append(fmt)
                        continue
                    payloads.append(C.encode_ppm(pixels))
                    fmts.append("ppm")
                elif strict:
                    raise C.MediaDecodeError(
                        f"resize_images(strict=True): no codec for format "
                        f"{fmt!r} (payload magic not PPM/BMP/PNG)"
                    )
                else:
                    payloads.append(raw)
                    fmts.append(fmt)
            out["payload"] = payloads
            out["fmt"] = fmts
            out["width"] = np.int32(width)
            out["height"] = np.int32(height)
            yield out

    return df.mapInPandas(run, schema=df.schema)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: emit one (deterministic stub) frame per
    `every_ms` of duration.  Real plumbing: the row explosion, timestamps and
    per-frame payload column are exactly what a real ffmpeg pass produces."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame_payload": []}
            for _, row in pdf.iterrows():
                dur = 0 if pd.isna(row["duration_ms"]) else int(row["duration_ms"])
                payload = bytes(row["payload"] or b"")
                n = max(dur // every_ms, 1) if row["modality"] == "video" else 0
                for i in range(n):
                    # stub "frame": content-addressed slice marker, NOT pixels
                    marker = hashlib.sha256(
                        payload + i.to_bytes(4, "big")
                    ).digest()
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * every_ms)
                    out["frame_payload"].append(marker)
            yield pd.DataFrame(out)

    return df.select("media_id", "modality", "duration_ms", "payload").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Pure-SQL metadata aggregation over a media table (no Python)."""
    return df.groupBy("modality").agg(
        F.count("*").alias("cnt"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.max("width").alias("max_w"),
        F.max("height").alias("max_h"),
    )


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for tests/benches.

    Image and audio rows carry REAL decodable payloads (P6 PPM pixels /
    PCM16 WAV samples, seeded), so the decode -> feature -> resize pipeline
    exercises actual codecs end-to-end; video rows ALTERNATE real
    MJPEG-in-MP4 clips (decode_mp4_frame grabs real pixels, r10) with
    opaque garbage bytes — the latter still exercises the
    unknown-format/stub fallbacks."""
    from duckdb_faiss_ext_spark.operators.media_codecs import (
        encode_mjpeg_mp4,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        if modality == "image":
            pixels = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
            payload, fmt = encode_ppm(pixels), "ppm"
        elif modality == "audio":
            t = np.arange(1600)
            freq = 110.0 * (1 + i % 7)
            wave = (8000 * np.sin(2 * np.pi * freq * t / 16000)).astype(np.int16)
            payload, fmt = encode_wav(wave, 16000), "wav"
        elif (i // 3) % 2 == 0:
            clip = [
                rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
                for _ in range(2)
            ]
            payload, fmt = encode_mjpeg_mp4(clip, fps=10), "mp4"
        else:
            payload = bytes(rng.integers(0, 256, size=64 + (i % 5) * 32, dtype=np.uint8))
            fmt = "mp4"
        rows.append(
            (
                i,
                modality,
                fmt,
                payload,
                64 if modality == "image" else None,
                48 if modality == "image" else None,
                3000 if modality == "video" else None,
                16000 if modality == "audio" else None,
            )
        )
    return local_frame(spark, MEDIA_SCHEMA, rows)
