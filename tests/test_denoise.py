"""Wavelet shrinkage denoising (kernel idwt_batch + operators
denoise_windows): batched inverse parity with the single-series inverse,
VisuShrink actually removing planted noise, and the per-row verification
identities the driver query rides on."""

import numpy as np
import pandas as pd
import pytest

from wavelet_decomposition_spark.kernel import dwt as kdwt
from wavelet_decomposition_spark.operators.wavelet_ops import denoise_windows


@pytest.mark.parametrize("wavelet", ["haar", "db4"])
def test_idwt_batch_matches_single(wavelet):
    rng = np.random.default_rng(2)
    X = rng.normal(size=(7, 64))
    details, approx = kdwt.dwt_batch(X, wavelet, 3)
    rec = kdwt.idwt_batch(details, approx, wavelet)
    for i in range(X.shape[0]):
        single = kdwt.idwt([d[i] for d in details], approx[i], wavelet)
        np.testing.assert_allclose(rec[i], single, rtol=0, atol=1e-12)
    np.testing.assert_allclose(rec, X, rtol=0, atol=1e-10)


def _noisy_windows(n_conv=6, n=128, sigma=0.5, seed=4):
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    rows = []
    clean = {}
    for c in range(n_conv):
        sig = 3.0 * np.sin(2 * np.pi * t / 64 + c) + 0.5 * c
        clean[f"c{c}"] = sig
        noisy = sig + rng.normal(0, sigma, n)
        for i in range(n):
            rows.append(
                {
                    "conv_id": f"c{c}",
                    "bucket_ts": pd.Timestamp("2024-01-01")
                    + pd.Timedelta(minutes=i),
                    "v": float(noisy[i]),
                }
            )
    return pd.DataFrame(rows), clean


def test_denoise_reduces_noise_and_identities(spark):
    pdf, clean = _noisy_windows()
    df = spark.createDataFrame(pdf).repartition(4)
    out = denoise_windows(
        df, "v", wavelet="db4", levels=4, window_len=128,
        sparse_fill_step="1 minute",
    ).toPandas()
    assert len(out) == len(clean)
    # per-row identities (what the driver invariants assert)
    assert (out["roundtrip_rel_err"] <= 1e-9).all()
    np.testing.assert_allclose(
        out["coef_energy"], out["input_energy"], rtol=1e-9
    )
    assert (
        out["den_energy"] <= out["input_energy"] * (1 + 1e-12) + 1e-9
    ).all()
    # MAD estimate of the planted noise scale
    assert ((out["sigma"] > 0.25) & (out["sigma"] < 1.0)).all()
    # denoising must beat the noisy input against the clean truth
    noisy_mse, den_mse = [], []
    for row in out.itertuples():
        sig = clean[row.conv_id]
        den = np.asarray(row.denoised)
        noisy = (
            pdf[pdf["conv_id"] == row.conv_id]
            .sort_values("bucket_ts")["v"]
            .to_numpy()
        )
        noisy_mse.append(np.mean((noisy - sig) ** 2))
        den_mse.append(np.mean((den - sig) ** 2))
    # soft thresholding trades a little signal bias for a big variance cut;
    # on a smooth signal the net MSE must drop decisively
    assert np.mean(den_mse) < 0.6 * np.mean(noisy_mse)


def test_threshold_zero_is_identity(spark):
    pdf, _ = _noisy_windows(n_conv=2)
    df = spark.createDataFrame(pdf)
    out = denoise_windows(
        df, "v", wavelet="haar", levels=3, window_len=128, threshold=0.0,
        sparse_fill_step="1 minute",
    ).toPandas()
    for row in out.itertuples():
        noisy = (
            pdf[pdf["conv_id"] == row.conv_id]
            .sort_values("bucket_ts")["v"]
            .to_numpy()
        )
        np.testing.assert_allclose(row.denoised, noisy, atol=1e-10)
        assert row.n_zeroed == 0


def test_hard_mode_zeroes_but_preserves_survivors(spark):
    pdf, _ = _noisy_windows(n_conv=2)
    df = spark.createDataFrame(pdf)
    out = denoise_windows(
        df, "v", wavelet="haar", levels=3, window_len=128, mode="hard",
        sparse_fill_step="1 minute",
    ).toPandas()
    assert (out["n_zeroed"] > 0).all()
    assert (out["n_zeroed"] <= out["n_detail"]).all()
    assert (out["den_energy"] <= out["input_energy"] + 1e-9).all()
