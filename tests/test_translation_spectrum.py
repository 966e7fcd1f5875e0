from types import SimpleNamespace

import numpy as np
from pyspark.sql import functions as F

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.io import reference_data as rd
from wavelet_decomposition_spark.kernel import wavelets as wl
from wavelet_decomposition_spark.kernel.lsqr import beta_decomposition
from wavelet_decomposition_spark.operators import spectrum, translation

FAMILIES = ("day", "week", "year")
SHAPES = ("square", "sine")


def lsqr_residues(signal, family, shape, dpy, dpd, shifts):
    """The reference's brute force (calc_translations.py:29-118): for each
    circular shift, one damped LSQR fit of the family's mother set to the
    rolled, centred signal, and its residue."""
    count, pattern = wl.mother_dictionary(family, shape, dpy, dpd)
    rows = np.arange(count * pattern.size)
    dense = np.zeros((signal.size, count))
    dense[rows, rows // pattern.size] = np.tile(pattern, count)
    A = SimpleNamespace(
        shape=dense.shape, matvec=dense.__matmul__, rmatvec=dense.T.__matmul__
    )
    out = []
    for d in shifts:
        rolled = np.roll(signal, -int(d))
        rolled = rolled - rolled.mean()
        resid = rolled - A.matvec(beta_decomposition(A, rolled))
        out.append(float(resid @ resid))
    return np.array(out)


def _tie_class(shift, family, dpd, n):
    """The orbit of exact ties ``shift`` belongs to: day mothers repeat
    every ``dpd`` points, a half-period roll negates the year mother, and
    the week mothers have no symmetry."""
    return shift % {"day": dpd, "week": n, "year": n // 2}[family]


def _sweep(spark, signal, family, shape, dpy, dpd):
    """``residues_for_shifts``' residue at every shift, indexed by shift."""
    pdf = translation.residues_for_shifts(
        spark, signal, family, shape, dpy=dpy, dpd=dpd
    ).toPandas()
    assert sorted(pdf["shift"]) == list(range(signal.size))
    return pdf.sort_values("shift")["residue"].to_numpy()


def test_translation_search_matches_numpy_bruteforce(spark):
    """Every shift's residue on a 365-day x 4-point grid equals the LSQR
    brute force's, for all three families and both shapes, and each argmin
    falls in the brute force's tie class (an exact tie in real arithmetic
    is broken by rounding, which differs between the two).

    The closed form's error is a few ulps of the signal's energy at every
    shift, so its relative error grows as a fit leaves less of the signal:
    a roll of the square year mother plus 1% noise leaves 4e-6 of it, and
    there it is checked against that energy instead."""
    dpy, dpd = 365, 4
    load = ei.load_prepared_signal("Consumption", 2012).reshape(365, 64)
    load = load[:, :: 64 // dpd].ravel()
    n = load.size
    for shape in SHAPES:
        for fam in FAMILIES:
            want = lsqr_residues(load, fam, shape, dpy, dpd, range(n))
            got = _sweep(spark, load, fam, shape, dpy, dpd)
            np.testing.assert_allclose(got, want, rtol=1e-12, err_msg=(shape, fam))
            assert _tie_class(int(np.argmin(got)), fam, dpd, n) == _tie_class(
                int(np.argmin(want)), fam, dpd, n
            ), (shape, fam)

    year = np.roll(np.repeat([1.0, -1.0], n // 2), 37) + 0.01 * np.sin(np.arange(n))
    want = lsqr_residues(year, "year", "square", dpy, dpd, range(n))
    got = _sweep(spark, year, "year", "square", dpy, dpd)
    energy = float(np.sum((year - year.mean()) ** 2))
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12 * energy)
    assert int(np.argmin(got)) % (n // 2) == int(np.argmin(want)) % (n // 2) == 37


def test_translation_residues_match_lsqr_at_full_width(spark):
    """20 seeded shifts per family and shape of the full 365 x 64 grid:
    the residues equal the LSQR brute force's."""
    sig = ei.load_prepared_signal("Consumption", 2012)
    rng = np.random.default_rng(2012)
    for shape in SHAPES:
        for fam in FAMILIES:
            shifts = rng.choice(sig.size, 20, replace=False)
            want = lsqr_residues(sig, fam, shape, 365, 64, shifts)
            got = _sweep(spark, sig, fam, shape, 365, 64)[shifts]
            np.testing.assert_allclose(got, want, rtol=1e-12, err_msg=(shape, fam))


@ei.reference_skipif("input_time_series.xlsx", "translation/trans_square_12_18.p")
def test_full_translation_sweep_matches_golden_2012(spark):
    """A11 end-to-end at FULL width: all 23,360 circular shifts for each
    family, distributed, vs the golden pickle
    trans_square_12_18.p[0] == [87, 5974, 19225]
    (/root/reference/calc_translations.py:121-144).

    Two of the three argmins are degenerate in exact arithmetic, so parity
    is asserted modulo the family's symmetry group (verified numerically:
    the tied residues agree to ~1e-13 relative):

    - day: the 365-day mother set is invariant under 64-point circular
      shifts, so residue(d) depends only on d mod 64 — the golden 87 is one
      member of an orbit of exact ties, picked by scipy's last-ulp noise.
    - year: translating by N/2 sign-flips the square year wavelet; LSQR
      negates beta and the residue is identical, so the argmin is defined
      mod N/2 = 11,680 (golden 19225 ≡ 7545).
    - week: 52 mothers cover only 364 of 365 days (no tiling symmetry), the
      argmin is unique — must match the golden 5974 exactly.
    """
    sig = rd.load_prepared_signal("Consumption", 2012)
    n = sig.size
    assert n == 23360
    golden_day, golden_week, golden_year = rd.load_translations("square")[0]

    res = {}
    for fam in ("day", "week", "year"):
        pdf = (
            translation.residues_for_shifts(
                spark, sig, fam, "square", dpy=365, dpd=64
            )
            .toPandas()
            .sort_values("shift")
        )
        assert len(pdf) == n
        res[fam] = pdf["residue"].to_numpy()

    base = float(np.dot(sig, sig))

    def argmin(r):
        masked = np.where(r < base, r, np.inf)
        return int(np.argmin(masked))

    assert argmin(res["week"]) == golden_week

    d = argmin(res["day"])
    assert d % 64 == golden_day % 64
    np.testing.assert_allclose(
        res["day"][d], res["day"][golden_day], rtol=1e-9
    )

    y = argmin(res["year"])
    assert y % (n // 2) == golden_year % (n // 2)
    np.testing.assert_allclose(
        res["year"][y], res["year"][golden_year], rtol=1e-9
    )


@ei.reference_skipif("input_time_series.xlsx", "translation/trans_sine_12_18.p")
def test_full_sine_translation_sweep_matches_golden_2012(spark):
    """The SINE-shape E3 pickle (trans_sine_12_18.p — previously the one
    reference artifact never exercised): all 23,360 shifts per family with
    sine mothers on the same Consumption 2012 signal (tutorial.ipynb's
    sine cell imports this pickle; the signal arg on the compute path is
    stacked_input_data[signal_type] exactly as for square). Verified
    empirically this round: the same symmetry orbits apply —

    - day: sine day mothers tile per 64-point day -> argmin mod 64
      (golden 25; measured argmin 17433, residue ratio 1 - 8e-16);
    - year: a half-period shift negates the year sine -> argmin mod
      N/2 = 11,680 (golden 7116; measured 18796 = 7116 + 11,680 exactly,
      residue ratio 1 - 4e-16);
    - week: no tiling symmetry -> exact (golden 22584, matched exactly).
    """
    sig = rd.load_prepared_signal("Consumption", 2012)
    n = sig.size
    golden_day, golden_week, golden_year = rd.load_translations("sine")[0]
    base = float(np.dot(sig, sig))

    def argmin(r):
        masked = np.where(r < base, r, np.inf)
        return int(np.argmin(masked))

    res = {}
    for fam in ("day", "week", "year"):
        pdf = (
            translation.residues_for_shifts(
                spark, sig, fam, "sine", dpy=365, dpd=64
            )
            .toPandas()
            .sort_values("shift")
        )
        assert len(pdf) == n
        res[fam] = pdf["residue"].to_numpy()

    assert argmin(res["week"]) == golden_week

    d = argmin(res["day"])
    assert d % 64 == golden_day % 64
    np.testing.assert_allclose(res["day"][d], res["day"][golden_day], rtol=1e-9)

    y = argmin(res["year"])
    assert y % (n // 2) == golden_year % (n // 2)
    np.testing.assert_allclose(
        res["year"][y], res["year"][golden_year], rtol=1e-9
    )


def test_fft_spectrum_matches_numpy(spark):
    rng = np.random.default_rng(12)
    y = rng.normal(size=256)
    df = spark.createDataFrame(
        [("s", 2000, int(i), float(v)) for i, v in enumerate(y)],
        "series_id string, year int, idx int, value double",
    )
    got = (
        spectrum.fft_spectrum(df)
        .orderBy("freq_idx")
        .toPandas()["magnitude"]
        .to_numpy()
    )
    want = 2.0 / y.size * np.abs(np.fft.fft(y - y.mean()))[: y.size // 2]
    np.testing.assert_allclose(got, want, atol=1e-12)


def test_per_scale_reconstruction_sums_to_full(spark):
    """The 15 single-scale reconstructions + offset = full reconstruction
    (linearity of A @ beta)."""
    from wavelet_decomposition_spark.operators import decompose as dec
    from wavelet_decomposition_spark.operators import series as ser
    from wavelet_decomposition_spark.operators.resample import resample_per_year

    df = ei.electricity_df(spark, signals=["PV"], years=[2015])
    df = ser.leap_trim(df, 48 * 365)
    df = ser.normalize_yearly_mean(df)
    df = resample_per_year(df, 48, 64, 365)
    trans = ei.load_translations("square")
    bc = dec.broadcast_dictionaries(spark, "square", {2015: trans[3]})
    betas = dec.decompose(df, bc).cache()

    per_scale = spectrum.per_scale_reconstruction(betas, bc)
    summed = per_scale.groupBy("series_id", "year", "idx").agg(
        F.sum("value").alias("scales_sum")
    )
    full = dec.reconstruct(betas, bc, add_offset=False).withColumnRenamed(
        "value", "full_value"
    )
    joined = summed.join(full, ["series_id", "year", "idx"])
    bad = joined.filter(
        F.abs(F.col("scales_sum") - F.col("full_value")) > 1e-9
    ).count()
    assert bad == 0


def test_spectral_features_numpy_parity_and_extremes(spark):
    """spectral_features vs a direct numpy periodogram-entropy oracle,
    plus the two textbook extremes: a pure tone scores entropy ~0 with
    its peak at the right bin; white noise scores entropy near 1."""
    import numpy as np
    import pandas as pd

    from wavelet_decomposition_spark.operators.spectrum import (
        spectral_features,
    )

    rng = np.random.default_rng(6)
    n = 512
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    tone = np.sin(2 * np.pi * 16 * np.arange(n) / n)
    noise = rng.normal(size=n)
    mixed = tone + 0.3 * noise
    pdf = pd.concat(
        [
            pd.DataFrame({"series_id": "tone", "bucket_ts": ts, "v": tone}),
            pd.DataFrame({"series_id": "noise", "bucket_ts": ts, "v": noise}),
            pd.DataFrame({"series_id": "mixed", "bucket_ts": ts, "v": mixed}),
        ]
    )
    out = (
        spectral_features(
            spark.createDataFrame(pdf), group_cols=("series_id",)
        )
        .toPandas()
        .set_index("series_id")
    )
    # numpy oracle for the mixed series
    y = mixed - mixed.mean()
    spec = np.abs(np.fft.rfft(y)) ** 2
    w = np.ones(spec.size)
    w[1:] = 2.0
    w[-1] = 1.0  # n even
    p = (w * spec)[1:]
    q = p / p.sum()
    nz = q[q > 0]
    exp_ent = -(nz * np.log(nz)).sum() / np.log(p.size)
    np.testing.assert_allclose(
        out.loc["mixed", "spectral_entropy"], round(exp_ent, 6), atol=1e-6
    )
    assert out.loc["mixed", "peak_freq_idx"] == 16
    # extremes
    assert out.loc["tone", "spectral_entropy"] < 0.05
    assert out.loc["tone", "peak_freq_idx"] == 16
    assert out.loc["tone", "peak_share"] > 0.999
    assert out.loc["noise", "spectral_entropy"] > 0.85
    # Parseval energies agree for all three
    rel = (out.energy_time - out.energy_spec).abs() / out.energy_time
    assert (rel < 1e-9).all()


def test_spectral_features_non_string_group_cols(spark):
    """Group-column types must be derived from the input schema — the
    pre-fix hardcoded '<col> string' schema broke ('series_id', 'year')
    groupings at the Arrow boundary (round-4 advisory). Same check for
    fft_spectrum's (string, int) convention with swapped types."""
    import numpy as np
    import pandas as pd

    from wavelet_decomposition_spark.operators.spectrum import (
        fft_spectrum,
        spectral_features,
    )

    n = 64
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    pdf = pd.concat(
        [
            pd.DataFrame(
                {"series_id": 7, "year": 2024, "bucket_ts": ts,
                 "v": np.sin(np.arange(n))}
            ),
            pd.DataFrame(
                {"series_id": 8, "year": 2025, "bucket_ts": ts,
                 "v": np.cos(np.arange(n))}
            ),
        ]
    )
    df = spark.createDataFrame(pdf)  # series_id/year infer as bigint
    out = spectral_features(
        df, group_cols=("series_id", "year")
    ).toPandas()
    assert sorted(out["series_id"]) == [7, 8]
    assert out["series_id"].dtype.kind == "i"
    spec = fft_spectrum(
        df, value_col="v", ts_col="bucket_ts"
    ).toPandas()
    assert set(spec["series_id"]) == {7, 8}
    assert spec["series_id"].dtype.kind == "i"
