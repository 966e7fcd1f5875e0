import numpy as np
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.kernel import dwt as kdwt
from wavelet_decomposition_spark.operators import activity, gapfill, wavelet_ops


def _filled(spark, n=6, seed=2):
    raw = activity.activity_raw(transcripts_df(spark, n, seed=seed))
    return gapfill.gapfill_zero(raw)


# the grid step of _filled's raw (1-second) tier
STEP = "1 second"


def test_dwt_windows_match_numpy_kernel(spark):
    filled = _filled(spark)
    coefs = wavelet_ops.dwt_windows(
        filled, "turns", wavelet="haar", levels=3, window_len=64,
        sparse_fill_step=STEP,
    )
    pdf = coefs.toPandas()
    src = filled.orderBy("conv_id", "bucket_ts").toPandas()
    for conv, g in src.groupby("conv_id"):
        x = g["turns"].to_numpy(dtype=np.float64)
        n_windows = max(1, -(-x.size // 64))
        padded = np.zeros(n_windows * 64)
        padded[: x.size] = x
        details, approx = kdwt.dwt(padded[:64], "haar", 3)
        mine = pdf[(pdf.conv_id == conv) & (pdf.window_id == 0)]
        d1 = mine[(mine.level == 1) & (mine.coef_type == "detail")].sort_values("k")["coef"].to_numpy()
        np.testing.assert_allclose(d1, details[0], atol=1e-12)
        a = mine[mine.coef_type == "approx"].sort_values("k")["coef"].to_numpy()
        np.testing.assert_allclose(a, approx, atol=1e-12)


def test_energy_spectrum_parseval(spark):
    filled = _filled(spark, n=4, seed=8)
    coefs = wavelet_ops.dwt_windows(
        filled, "turns", wavelet="db4", levels=4, window_len=128,
        sparse_fill_step=STEP,
    )
    spec = wavelet_ops.energy_spectrum(coefs)
    total = spec.groupBy("conv_id").agg(F.sum("energy").alias("e")).toPandas()
    # input energy including zero padding == coefficient energy (Parseval)
    src = filled.orderBy("conv_id", "bucket_ts").toPandas()
    for _, row in total.iterrows():
        x = src[src.conv_id == row.conv_id]["turns"].to_numpy(dtype=np.float64)
        np.testing.assert_allclose(row.e, np.square(x).sum(), rtol=1e-9)


def test_modwt_windows_shapes(spark):
    filled = _filled(spark, n=3, seed=4)
    coefs = wavelet_ops.dwt_windows(
        filled, "chars", wavelet="haar", levels=3, window_len=64,
        transform="modwt", sparse_fill_step=STEP,
    )
    pdf = coefs.toPandas()
    # MODWT is undecimated: every level has window_len coefficients
    counts = pdf.groupby(["conv_id", "window_id", "level", "coef_type"]).size()
    assert set(counts.unique()) == {64}


def test_energy_windows_matches_relational_spectrum(spark):
    """In-UDF spectrum (scale path) == energy_spectrum over the coefficient
    table (relational path), row for row."""
    filled = _filled(spark, n=5, seed=11)
    kw = dict(wavelet="db4", levels=4, window_len=128, sparse_fill_step=STEP)
    want = (
        wavelet_ops.energy_spectrum(
            wavelet_ops.dwt_windows(filled, "turns", **kw)
        )
        .orderBy("conv_id", "window_id", "level", "coef_type")
        .toPandas()
    )
    got = (
        wavelet_ops.energy_windows(filled, "turns", **kw)
        .orderBy("conv_id", "window_id", "level", "coef_type")
        .toPandas()
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in ("conv_id", "window_id", "level", "coef_type", "wavelet"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all()
    np.testing.assert_allclose(
        got["energy"].to_numpy(), want["energy"].to_numpy(), rtol=1e-9
    )


def test_sparse_fill_fusion_matches_explicit_gapfill(spark):
    """The fused zero fill against its ``gapfill_zero`` oracle: through the
    one windowing path, the SPARSE tier and the explicitly gap-filled grid
    give identical rows."""
    from wavelet_decomposition_spark.io.transcripts import transcripts_df
    from wavelet_decomposition_spark.operators import rollup

    raw = activity.activity_raw(transcripts_df(spark, 8, seed=5))
    tier = rollup.rollup_once(raw, "1m")
    dense = gapfill.gapfill_zero(tier, step="1 minute")
    kw = dict(
        wavelet="db4", levels=3, window_len=64, sparse_fill_step="1 minute"
    )
    order = ["conv_id", "window_id", "level", "coef_type", "k"]
    want = (
        wavelet_ops.dwt_windows(dense, "turns", **kw)
        .orderBy(*order).toPandas()
    )
    got = (
        wavelet_ops.dwt_windows(tier, "turns", **kw)
        .orderBy(*order).toPandas()
    )
    assert len(got) == len(want) and len(got) > 0
    for c in order:
        assert (got[c].to_numpy() == want[c].to_numpy()).all()
    np.testing.assert_allclose(
        got["coef"].to_numpy(), want["coef"].to_numpy(), atol=1e-12
    )
    # energy path too
    e_want = (
        wavelet_ops.energy_windows(dense, "turns", **kw)
        .orderBy("conv_id", "window_id", "level", "coef_type").toPandas()
    )
    e_got = (
        wavelet_ops.energy_windows(tier, "turns", **kw)
        .orderBy("conv_id", "window_id", "level", "coef_type").toPandas()
    )
    np.testing.assert_allclose(
        e_got["energy"].to_numpy(), e_want["energy"].to_numpy(), rtol=1e-9
    )


# every window-matrix operator shares one scatter (_window_matrix), so each
# must reject what it rejects
WINDOWED_OPS = [
    wavelet_ops.dwt_windows, wavelet_ops.energy_windows,
    wavelet_ops.denoise_windows,
]


def test_sparse_fill_rejects_offgrid_timestamps(spark):
    """Sparse mode must ERROR on off-grid input, not silently floor-divide
    rows into the wrong window cell."""
    import pytest

    df = spark.createDataFrame(
        [("c", "2024-01-01 00:00:00", 1.0), ("c", "2024-01-01 00:01:30", 2.0)],
        "conv_id string, bucket_ts string, turns double",
    ).withColumn("bucket_ts", F.col("bucket_ts").cast("timestamp"))
    for op in WINDOWED_OPS:
        out = op(
            df, "turns", wavelet="haar", levels=2, window_len=8,
            sparse_fill_step="1 minute",
        )
        with pytest.raises(Exception, match="not aligned"):
            out.collect()


def test_sparse_fill_rejects_duplicate_grid_rows(spark):
    import pytest

    df = spark.createDataFrame(
        [("c", "2024-01-01 00:00:00", 1.0), ("c", "2024-01-01 00:00:00", 2.0),
         ("c", "2024-01-01 00:01:00", 3.0)],
        "conv_id string, bucket_ts string, turns double",
    ).withColumn("bucket_ts", F.col("bucket_ts").cast("timestamp"))
    for op in WINDOWED_OPS:
        out = op(
            df, "turns", wavelet="haar", levels=2, window_len=8,
            sparse_fill_step="1 minute",
        )
        with pytest.raises(Exception, match="duplicate"):
            out.collect()


def test_non_dyadic_window_len_rejected_at_construction(spark):
    """A decimating transform cannot halve a 100-point window 5 times: the
    operator must refuse on the driver, while building the DataFrame, not
    in every Python task after the shuffle. MODWT is undecimated, so any
    window length is valid there."""
    import pytest

    filled = _filled(spark, n=2, seed=6)
    kw = dict(levels=5, window_len=100, sparse_fill_step=STEP)
    for build in (
        lambda: wavelet_ops.dwt_windows(filled, "turns", **kw),
        lambda: wavelet_ops.energy_windows(filled, "turns", **kw),
        lambda: wavelet_ops.energy_windows(
            filled, "turns", transform="wpt", **kw
        ),
        lambda: wavelet_ops.denoise_windows(filled, "turns", **kw),
    ):
        with pytest.raises(ValueError, match="divisible by 2\\*\\*levels"):
            build()
    modwt = wavelet_ops.energy_windows(
        filled, "turns", transform="modwt", **kw
    ).toPandas()
    assert len(modwt) > 0 and modwt["energy"].notna().all()


def test_energy_windows_wpt_parseval_and_band_labels(spark):
    """Wavelet-packet energies: every window carries exactly the
    ``2**levels`` leaf bands band00..bandNN at level ``levels``, and their
    energies sum to the window's input energy (orthonormal Parseval over
    the leaf set, zero-padded tail included)."""
    filled = _filled(spark, n=5, seed=9)
    levels, window_len = 3, 64
    got = wavelet_ops.energy_windows(
        filled, "turns", wavelet="db4", levels=levels,
        window_len=window_len, transform="wpt", sparse_fill_step=STEP,
    ).toPandas()
    labels = {f"band{i:02d}" for i in range(2**levels)}
    assert (got["level"] == levels).all()
    assert (got["wavelet"] == "db4").all()
    per_window = got.groupby(["conv_id", "window_id"])
    assert all(sorted(g) == sorted(labels) for _, g in per_window["coef_type"])
    e_out = per_window["energy"].sum()

    src = filled.orderBy("conv_id", "bucket_ts").toPandas()
    src["window_id"] = src.groupby("conv_id").cumcount() // window_len
    e_in = (
        src.assign(e=src["turns"].to_numpy(dtype=np.float64) ** 2)
        .groupby(["conv_id", "window_id"])["e"].sum()
    )
    assert set(e_out.index) == set(e_in.index)
    np.testing.assert_allclose(
        e_out.sort_index().to_numpy(), e_in.sort_index().to_numpy(),
        rtol=1e-9, atol=1e-9,
    )
