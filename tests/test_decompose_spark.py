"""Spark end-to-end golden parity: parquet scan -> leap trim -> yearly-mean
normalize -> 48->64 resample -> broadcast-dictionary LSQR solve -> long-format
coefficients == the reference's exported sheet (SURVEY.md §7 step 3).

Input: the reference workbook and square translations pickle where the
reference root (``rd.REFERENCE_ROOT``) holds them; where it does not, the
seeded synthetic series and fixed translations of tests/electricity_inputs.py. The golden-parity
test compares against the reference betas sheet and skips, with the missing
paths as its reason, where those artifacts are absent; the reconstruction
tests check identities that hold for either input."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.io import reference_data as rd
from wavelet_decomposition_spark.kernel import wavelets as wl
from wavelet_decomposition_spark.operators import decompose as dec
from wavelet_decomposition_spark.operators import series as ser
from wavelet_decomposition_spark.operators.resample import resample_per_year

DPD, NDPD, DPY = 48, 64, 365


@pytest.fixture(scope="module")
def betas_2013(spark):
    df = ei.electricity_df(spark, signals=["Consumption"], years=[2013])
    df = ser.leap_trim(df, DPD * DPY)
    df = ser.normalize_yearly_mean(df)
    df = resample_per_year(df, DPD, NDPD, DPY)
    trans = ei.load_translations("square")
    bc = dec.broadcast_dictionaries(spark, "square", {2013: trans[1]})
    return dec.decompose(df, bc), bc


@ei.reference_skipif(
    "betas/square_shape/betas_Consumption.xlsx",
    "input_time_series.xlsx",
    "translation/trans_square_12_18.p",
)
def test_spark_golden_parity_consumption_2013(spark, betas_2013):
    betas, _ = betas_2013
    rows = betas.orderBy("scale_idx", "pos").collect()
    assert len(rows) == 23423
    golden = rd.load_golden_betas("Consumption", 2013)
    by_scale = {}
    for r in rows:
        by_scale.setdefault(r.scale_idx, {})[r.pos] = r.beta
    for s in range(16):
        mine = np.array([by_scale[s][p] for p in range(len(golden[s]))])
        np.testing.assert_allclose(mine, golden[s], atol=1e-9, rtol=0)


def test_spark_reconstruction_roundtrip(spark, betas_2013):
    betas, bc = betas_2013
    recon = dec.reconstruct(betas, bc)
    # reconstruction ~ the normalized resampled input signal
    df = ei.electricity_df(spark, signals=["Consumption"], years=[2013])
    df = ser.leap_trim(df, DPD * DPY)
    df = ser.normalize_yearly_mean(df)
    df = resample_per_year(df, DPD, NDPD, DPY)
    joined = (
        recon.alias("r")
        .join(df.alias("o"), ["series_id", "year", "idx"])
        .select(
            F.sqrt(F.avg(F.pow(F.col("r.value") - F.col("o.value"), 2))).alias("rmse"),
            F.sqrt(F.avg(F.pow(F.col("o.value"), 2))).alias("norm"),
        )
        .collect()[0]
    )
    assert joined.rmse / joined.norm < 1e-2


def test_relational_reconstruction_matches_matvec(spark, betas_2013):
    """J3 (join + hash-agg over the dictionary-as-a-table) reproduces the
    broadcast-matvec reconstruction to float64 tolerance — full band and a
    band-passed slice (day scales + offset)."""
    betas, bc = betas_2013
    support = dec.support_table(spark, bc)
    for keep in (None, list(range(6)) + [15]):
        matvec = dec.reconstruct(betas, bc, keep_scales=keep).withColumnRenamed(
            "value", "v_udf"
        )
        rel = dec.reconstruct_relational(betas, support, keep_scales=keep)
        joined = matvec.join(rel, ["series_id", "year", "idx"], "full_outer")
        bad = joined.filter(
            F.col("value").isNull()
            | F.col("v_udf").isNull()
            | (F.abs(F.col("value") - F.col("v_udf")) > 1e-9)
        ).count()
        assert bad == 0, f"keep_scales={keep}"
