"""Electricity-series fixture: the reference's input workbook as a Spark
long-format table (series_id, year, idx, value) at the raw 48 samples/day.

Driver-side build (the workbook is ~370k values); real deployments read the
same schema from parquet/Iceberg.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .reference_data import load_input_series

SCHEMA = "series_id string, year int, idx int, value double"


def electricity_pandas(signals=None, years=None) -> pd.DataFrame:
    data, all_years = load_input_series()
    signals = list(signals or data.keys())
    years = list(years or all_years)
    frames = []
    for sig in signals:
        for year in years:
            vals = data[sig][year]
            frames.append(
                pd.DataFrame(
                    {
                        "series_id": sig,
                        "year": np.int32(year),
                        "idx": np.arange(vals.size, dtype=np.int32),
                        "value": vals,
                    }
                )
            )
    return pd.concat(frames, ignore_index=True)


_DF_CACHE: dict = {}


def electricity_df(spark: SparkSession, signals=None, years=None) -> DataFrame:
    """Memoized per (session, signals, years) — the same ingest-memo
    treatment load_input_series/_GOLDEN_CACHE already get: the workbook
    is a static read-only reference artifact, and rebuilding the 245k-row
    pandas frame + LocalRelation cost ~1.5 s of every warm repeat of the
    eight queries that start from it. A LocalRelation is immutable, so
    handing the same DataFrame to every caller is safe; keyed by
    applicationId so a new session never sees a stale relation."""
    key = (
        spark.sparkContext.applicationId,
        tuple(signals) if signals is not None else None,
        tuple(years) if years is not None else None,
    )
    df = _DF_CACHE.get(key)
    if df is None:
        # localCheckpoint so the rows live on executors once per session:
        # a plain LocalRelation embeds the 245k rows in the plan and
        # re-serializes them into every job that scans it
        df = spark.createDataFrame(
            electricity_pandas(signals, years), schema=SCHEMA
        ).localCheckpoint()
        _DF_CACHE[key] = df
    return df

