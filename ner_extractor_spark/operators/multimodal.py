"""Multimodal column plumbing (build brief): image/audio/video as opaque
``binary`` columns with typed metadata.

The container has no image/audio libraries, so the DECODE kernels are
deterministic fakes / explicit NotImplementedError stubs — but the
Spark-side contract (schemas, Arrow batch shape, mapInPandas signatures,
partitioning) is real and tested.  Swapping in PIL/librosa is a
one-function change inside the UDF.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

MEDIA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),       # image | audio | video
    StructField("payload", BinaryType(), True),     # opaque bytes
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

FEATURES = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("feature", ArrayType(FloatType()), False),
])


def fake_feature(payload: bytes, dim: int = 8) -> list:
    """Deterministic stand-in for an image/audio encoder: md5 bytes of
    the payload, scaled to [0,1).  Same input -> same feature, any
    partitioning."""
    h = hashlib.md5(payload or b"").digest()
    return [b / 255.0 for b in h[:dim]]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """binary payload -> feature vector via Arrow-batched mapInPandas.

    Batch shape is the production contract: the UDF sees a pandas frame
    of (media_id, kind, payload) and returns (media_id, kind, feature).
    A real encoder (GPU or CPU) replaces `fake_feature` only.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": [fake_feature(p, dim) for p in pdf["payload"]],
            })

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, schema=FEATURES)


THUMBS = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("out_width", IntegerType(), False),
    StructField("out_height", IntegerType(), False),
    StructField("thumb", BinaryType(), False),
])

FRAMES = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("frame_ts_ms", IntegerType(), False),
    StructField("frame", BinaryType(), False),
])


def _fake_bytes(payload: bytes, salt: str, n: int = 16) -> bytes:
    return hashlib.md5((payload or b"") + salt.encode()).digest()[:n]


def resize_images(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Aspect-preserving resize of image rows via mapInPandas.

    The DIMENSION algebra (scale = max_side / long side, floor, min 1)
    is real and tested; the pixel kernel is a deterministic fake
    (md5-derived bytes) because PIL/opencv are not in this container —
    a real decoder replaces the one `_fake_bytes` call.  Rows without
    decodable metadata (null width/height) are dropped, the standard
    lenient posture for web-crawled media.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.width is None or r.height is None or \
                        pd.isna(r.width) or pd.isna(r.height):
                    continue
                w, h = int(r.width), int(r.height)
                scale = max_side / max(w, h, 1)
                ow = max(1, int(w * scale)) if scale < 1 else w
                oh = max(1, int(h * scale)) if scale < 1 else h
                rows.append((r.media_id, r.kind, ow, oh,
                             _fake_bytes(r.payload, f"resize|{ow}x{oh}")))
            yield pd.DataFrame(rows, columns=[f.name for f in THUMBS.fields])

    return (media.filter(media.kind == "image")
            .select("media_id", "kind", "payload", "width", "height")
            .mapInPandas(fn, schema=THUMBS))


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame
    (media_id, frame_idx, frame_ts_ms, frame bytes) via mapInPandas —
    the UDF-side explode shape a real ffmpeg/av sampler uses (it
    replaces the `_fake_bytes` call; the fan-out, timestamps, and batch
    contract are real and tested)."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                dur = 0 if r.duration_ms is None or pd.isna(r.duration_ms) \
                    else int(r.duration_ms)
                # every frame timestamp <= duration: floor(dur/every)+1
                # (an ffmpeg fps-style sampler includes t=0 AND the last
                # in-range tick — dur=2500,every=1000 -> 0,1000,2000);
                # max(1, ...) keeps the t=0 frame for corrupt/negative
                # duration metadata
                n = max(1, dur // every_ms + 1)
                for i in range(n):
                    rows.append((r.media_id, i, i * every_ms,
                                 _fake_bytes(r.payload, f"frame|{i}")))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAMES.fields])

    return (media.filter(media.kind == "video")
            .select("media_id", "payload", "duration_ms")
            .mapInPandas(fn, schema=FRAMES))


def decode_image(payload: bytes):  # pragma: no cover - explicit stub
    """Real image decode (PIL) — unavailable in this container."""
    raise NotImplementedError(
        "image decode needs PIL/opencv; wire it into extract_features' / "
        "resize_images' batch loops — the Spark plumbing (schema/batching) "
        "is already real")
