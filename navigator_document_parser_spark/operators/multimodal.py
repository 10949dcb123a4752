"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a typed metadata struct.
The Spark-side plumbing — schema, Arrow batch shape, partitioning — is
real and tested; the codec decode is a deterministic stand-in
(`fake_features`, an md5 chain over the bytes alone), so the whole path
is testable and byte-deterministic. A real decoder (PIL/libsndfile/pyav)
replaces `fake_features` and nothing around it.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),       # image|audio|video
    StructField("payload", BinaryType(), True),
    StructField("meta_mime", StringType(), True),
    StructField("meta_bytes", LongType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("content_hash", StringType(), False),
    StructField("features", ArrayType(FloatType()), False),
])


def fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature vector: md5-chained floats."""
    out = []
    h = payload or b""
    for d in range(dim):
        h = hashlib.md5(h + bytes([d])).digest()
        out.append((int.from_bytes(h[:4], "big") % 20001 - 10000) / 10000.0)
    return out


def extract_media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow batches stream payloads through Python once; output drops the
    payload (narrow result), so downstream stages never re-shuffle blobs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over columns, never iterrows (several-fold slower —
            # same pattern as text.py winnow_fingerprints)
            for media_id, kind, raw in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                payload = bytes(raw) if raw is not None else b""
                rows.append({
                    "media_id": media_id,
                    "kind": kind,
                    "n_bytes": len(payload),
                    "content_hash": hashlib.md5(payload).hexdigest(),
                    "features": fake_features(payload, dim),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", LongType(), False),
    StructField("frame_ts_ms", LongType(), False),
    StructField("frame", BinaryType(), False),
    StructField("content_hash", StringType(), False),
])


def _fake_raster(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a decoded+resized raster: md5-chained
    bytes seeded by (payload, dims). STUB boundary — a real cluster
    swaps this one function for PIL decode->resize->encode; the batch
    shape, schema, and partitioning around it are the production path."""
    need = width * height
    out = bytearray()
    h = hashlib.md5(payload + f":{width}x{height}".encode()).digest()
    while len(out) < need:
        out.extend(h)
        h = hashlib.md5(h).digest()
    return bytes(out[:need])


def sample_video_frames(media: DataFrame, n_frames: int = 4,
                        frame_px: int = 16) -> DataFrame:
    """Frame sampling: each video row fans out to ``n_frames`` rows with
    evenly spaced timestamps (meta_bytes stands in for duration — the
    stub has no container parser). mapInPandas because real demuxers
    emit a VARIABLE number of rows per input — the 1->N fan-out shape is
    what matters; frame pixels use the same _fake_raster stub boundary.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, raw, meta_bytes in zip(
                pdf["media_id"], pdf["payload"], pdf["meta_bytes"]
            ):
                payload = bytes(raw) if raw is not None else b""
                duration_ms = int(meta_bytes or 0) * 10  # stub proxy
                for k in range(n_frames):
                    ts = (duration_ms * (2 * k + 1)) // (2 * n_frames)
                    frame = _fake_raster(
                        payload + ts.to_bytes(8, "big"), frame_px, frame_px
                    )
                    rows.append({
                        "media_id": media_id,
                        "frame_idx": k,
                        "frame_ts_ms": ts,
                        "frame": frame,
                        "content_hash": hashlib.md5(frame).hexdigest(),
                    })
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return media.filter(F.col("kind") == "video").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


AUDIO_WINDOW_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("win_idx", LongType(), False),
    StructField("start_byte", LongType(), False),
    StructField("window", BinaryType(), False),
    StructField("content_hash", StringType(), False),
])


def window_audio_samples(media: DataFrame, window_bytes: int = 64,
                         hop_bytes: int = 32) -> DataFrame:
    """Audio windowing: each audio row fans out to its overlapping
    sample windows (window/hop in bytes — the stub treats the payload
    as raw PCM; a real pipeline decodes the container first, same stub
    boundary as _fake_raster). Only FULL windows are emitted, so the
    fan-out count varies with payload size — the variable 1->N shape
    mapInPandas exists for, completing the image(resize)/video(frames)/
    audio(windows) plumbing triple.
    """
    if window_bytes <= 0 or hop_bytes <= 0:
        raise ValueError("window_bytes and hop_bytes must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, raw in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(raw) if raw is not None else b""
                n_wins = (
                    0
                    if len(payload) < window_bytes
                    else 1 + (len(payload) - window_bytes) // hop_bytes
                )
                for k in range(n_wins):
                    start = k * hop_bytes
                    win = payload[start:start + window_bytes]
                    rows.append({
                        "media_id": media_id,
                        "win_idx": k,
                        "start_byte": start,
                        "window": win,
                        "content_hash": hashlib.md5(win).hexdigest(),
                    })
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in AUDIO_WINDOW_SCHEMA.fields],
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_WINDOW_SCHEMA
    )


def synth_media(spark, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic fake media table (payload bytes from row id)."""

    kinds = ["image", "audio", "video"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                i = int(i)
                size = 64 + (i * 37) % 512
                payload = hashlib.md5(f"media{i}".encode()).digest() * (size // 16 + 1)
                rows.append({
                    "media_id": i,
                    "kind": kinds[i % 3],
                    "payload": payload[:size],
                    "meta_mime": f"application/x-{kinds[i % 3]}",
                    "meta_bytes": size,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)
