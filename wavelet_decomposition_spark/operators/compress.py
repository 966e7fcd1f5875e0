"""Retention-tier block compression: Gorilla XOR floats + delta-of-delta
timestamps per (conv_id, day) block, stored as BinaryType columns.

The reference's analogue is its memo-cache layer (S2/S3 in SURVEY.md §2.1);
the north star requires the compressed representation per retention tier.
Encode/decode are vectorized numpy codecs (kernel/gorilla.py,
kernel/deltadelta.py) inside a bucketed ``applyInPandas``
(wavelet_ops.bucketed_apply) — one hash bucket of conversations per
group, no per-row Python. Round-trips are bit-exact, so a tier can be stored
compressed and re-expanded losslessly (test invariant).

Block schema:
    (conv_id, day, n_points, ts_blob binary, <col>_blob binary ...)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import deltadelta, gorilla
from .wavelet_ops import bucketed_apply


def encode_blocks(
    tier_df: DataFrame,
    value_cols,
    group_col: str = "conv_id",
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """Compress one tier into per-(conv, day) blocks."""
    value_cols = list(value_cols)
    schema = (
        f"{group_col} string, day date, n_points int, ts_blob binary, "
        + ", ".join(f"{c}_blob binary" for c in value_cols)
    )

    def _enc(pdf: pd.DataFrame) -> pd.DataFrame:
        # one Spark group = one BUCKET of conversations (per-conv UDF calls
        # were the profiled bottleneck); block boundaries fall where the
        # (conv, day) pair changes, so segmentation is one vectorized pass
        # and the codecs run ONCE per bucket over the concatenated arrays
        # (encode_many — per-block Python is header packing + slicing only).
        pdf = pdf.sort_values([group_col, ts_col])
        ts_all = pdf[ts_col].astype("datetime64[us]").to_numpy().view(np.int64)
        convs = pdf[group_col].to_numpy()
        days = pdf["day"].to_numpy()
        change = (convs[1:] != convs[:-1]) | (days[1:] != days[:-1])
        bounds = np.flatnonzero(np.r_[True, change, True])
        out = {group_col: convs[bounds[:-1]], "day": days[bounds[:-1]],
               "n_points": (bounds[1:] - bounds[:-1]).astype(np.int32),
               "ts_blob": deltadelta.encode_many(ts_all, bounds)}
        for c in value_cols:
            out[f"{c}_blob"] = gorilla.encode_many(
                pdf[c].to_numpy(dtype=np.float64), bounds
            )
        return pd.DataFrame(out)

    # Python-CPU-bound group stage: bucketed conversations with a
    # size-derived task count (see wavelet_ops.bucketed_apply); explicit
    # pre-UDF projection — Catalyst cannot prune into grouped-map UDFs
    with_day = tier_df.select(group_col, ts_col, *value_cols).withColumn(
        "day", F.to_date(ts_col)
    )
    return bucketed_apply(with_day, group_col, _enc, schema)


def decode_blocks(blocks: DataFrame, value_cols) -> DataFrame:
    """Expand blocks back to one row per point (exact inverse of
    :func:`encode_blocks` up to float64 bits)."""
    value_cols = list(value_cols)
    schema = "conv_id string, bucket_ts timestamp, " + ", ".join(
        f"{c} double" for c in value_cols
    )

    def _dec(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["conv_id", "bucket_ts", *value_cols])
        ts, bounds = deltadelta.decode_many(list(pdf["ts_blob"]))
        data = {
            "conv_id": np.repeat(pdf["conv_id"].to_numpy(), np.diff(bounds)),
            "bucket_ts": pd.to_datetime(ts, unit="us"),
        }
        for c in value_cols:
            vals, _ = gorilla.decode_many(list(pdf[f"{c}_blob"]))
            data[c] = vals
        return pd.DataFrame(data)

    return bucketed_apply(
        blocks, "conv_id", _dec, schema,
        blocks.sparkSession.sparkContext.defaultParallelism * 2,
    )


def compression_report(blocks: DataFrame, value_cols) -> DataFrame:
    """Bytes per block vs raw 8-byte-per-point baseline — the measurable
    retention win."""
    value_cols = list(value_cols)
    n_streams = 1 + len(value_cols)
    blob_bytes = F.length("ts_blob")
    for c in value_cols:
        blob_bytes = blob_bytes + F.length(f"{c}_blob")
    return blocks.select(
        "conv_id",
        "day",
        "n_points",
        blob_bytes.alias("compressed_bytes"),
        (F.col("n_points") * 8 * n_streams).alias("raw_bytes"),
    )
