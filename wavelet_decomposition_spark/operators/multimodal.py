"""Multimodal asset columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, plus the Spark-side plumbing (schema, partitioning, UDF
signatures, Arrow batch shapes) for decode / feature-extract / resize /
frame-sample.

The sandbox has no image/audio codecs, so the *decode* step is stubbed: by
default it raises ``NotImplementedError`` naming the missing dependency; with
``fake=True`` it produces deterministic hash-derived features so the
downstream plumbing (batching, schemas, joins with text/dedup stages) is real
and tested. Swapping in a real decoder is a one-function change per modality.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.session import worker_kernel

ASSET_SCHEMA = (
    "asset_id long, kind string, payload binary, width int, height int, "
    "duration_ms int, codec string"
)

FEATURE_DIM = 16


def synthetic_assets(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic opaque binary assets (stand-in for real media blobs)."""
    rng = np.random.default_rng(seed)
    kinds = np.array(["image", "audio", "video"])
    rows = pd.DataFrame(
        {
            "asset_id": np.arange(n, dtype=np.int64),
            "kind": kinds[rng.integers(0, 3, n)],
            "payload": [rng.bytes(int(rng.integers(64, 2048))) for _ in range(n)],
            "width": rng.integers(16, 4096, n).astype(np.int32),
            "height": rng.integers(16, 4096, n).astype(np.int32),
            "duration_ms": rng.integers(0, 600_000, n).astype(np.int32),
            "codec": np.where(rng.random(n) < 0.5, "c0", "c1"),
        }
    )
    return spark.createDataFrame(rows, schema=ASSET_SCHEMA)


def _fake_features(payload: pd.Series) -> np.ndarray:
    """Deterministic feature vectors derived from payload bytes (FNV-1 over
    the first 64 bytes, expanded via splitmix) — vectorized across the whole
    Arrow batch: the blobs are packed into one padded ``(n, 64)`` uint8
    matrix and the FNV fold runs as 64 batch-wide steps (constant iteration
    count regardless of batch size — no per-blob Python loop)."""
    n = len(payload)
    heads = [(b or b"\x00")[:64] for b in payload]
    lens = np.fromiter((len(h) for h in heads), dtype=np.int64, count=n)
    mat = np.zeros((n, 64), dtype=np.uint8)
    if n:
        # row-major mask order matches the concatenation order of the heads
        mat[np.arange(64)[None, :] < lens[:, None]] = np.frombuffer(
            b"".join(heads), dtype=np.uint8
        )
    prime = np.uint64(0x100000001B3)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    for j in range(int(lens.max(initial=0))):
        step = (h ^ mat[:, j].astype(np.uint64)) * prime
        h = np.where(j < lens, step, h)
    x = h[:, None] + np.arange(FEATURE_DIM, dtype=np.uint64)[None, :]
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return ((x >> np.uint64(11)).astype(np.float64) / float(1 << 53)).astype(
        np.float32
    )


def extract_features(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + feature-extract: (asset_id, kind, feature array<float>).

    Partitioned by nothing in particular — mapInPandas over whatever the scan
    produced; Arrow batch size bounds worker memory, payloads stream through
    without driver involvement."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decoding requires an image/audio codec library "
                    "(none in this environment); pass fake=True for "
                    "deterministic plumbing-test features"
                )
            feats = _fake_features(pdf["payload"])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "feature": list(feats),
                }
            )

    return assets.mapInPandas(
        worker_kernel(_extract),
        schema="asset_id long, kind string, feature array<float>",
    )


def resize_plan(assets: DataFrame, max_side: int = 512) -> DataFrame:
    """Resize metadata plan (pure column math — the actual pixel resample
    would live in the decode UDF): target dims preserving aspect ratio."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_side)) / F.greatest("width", "height"),
    )
    return assets.select(
        "asset_id",
        "kind",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video assets: one row per sampled timestamp
    (sequence + explode; the decode UDF would seek these offsets)."""
    return (
        assets.filter(F.col("kind") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ms"),
        )
    )
