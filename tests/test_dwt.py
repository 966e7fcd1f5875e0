import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wavelet_decomposition_spark.kernel import dwt


@pytest.mark.parametrize("wavelet", ["haar", "db4"])
def test_perfect_reconstruction(wavelet):
    rng = np.random.default_rng(3)
    x = rng.normal(size=512)
    d, a = dwt.dwt(x, wavelet)
    np.testing.assert_allclose(dwt.idwt(d, a, wavelet), x, atol=1e-10)


@pytest.mark.parametrize("wavelet", ["haar", "db4"])
def test_parseval_energy(wavelet):
    rng = np.random.default_rng(4)
    x = rng.normal(size=1024)
    d, a = dwt.dwt(x, wavelet)
    energy = sum(np.square(b).sum() for b in d) + np.square(a).sum()
    np.testing.assert_allclose(energy, np.square(x).sum(), rtol=1e-9)


def test_haar_closed_form():
    rng = np.random.default_rng(5)
    x = rng.normal(size=256)
    d, a = dwt.dwt(x, "haar", levels=1)
    s = np.sqrt(2.0)
    np.testing.assert_allclose(a, (x[0::2] + x[1::2]) / s, atol=1e-12)
    np.testing.assert_allclose(d[0], (x[0::2] - x[1::2]) / s, atol=1e-12)


@pytest.mark.parametrize("wavelet", ["haar", "db4"])
def test_modwt_energy_and_inverse(wavelet):
    rng = np.random.default_rng(6)
    x = rng.normal(size=300)  # MODWT needs no dyadic length
    W, V = dwt.modwt(x, wavelet, levels=4)
    energy = sum(np.square(w).sum() for w in W) + np.square(V).sum()
    np.testing.assert_allclose(energy, np.square(x).sum(), rtol=1e-9)
    np.testing.assert_allclose(dwt.imodwt(W, V, wavelet), x, atol=1e-9)


@pytest.mark.parametrize("wavelet", ["haar", "db4"])
def test_modwt_shift_equivariance(wavelet):
    rng = np.random.default_rng(8)
    x = rng.normal(size=256)
    W, V = dwt.modwt(x, wavelet, levels=3)
    W2, V2 = dwt.modwt(np.roll(x, 37), wavelet, levels=3)
    for a, b in zip(W, W2):
        np.testing.assert_allclose(np.roll(a, 37), b, atol=1e-10)
    np.testing.assert_allclose(np.roll(V, 37), V2, atol=1e-10)


def test_db4_filter_orthogonality():
    h, g = dwt.filters("db4")
    np.testing.assert_allclose(np.dot(h, h), 1.0, atol=1e-12)
    np.testing.assert_allclose(np.dot(g, g), 1.0, atol=1e-12)
    np.testing.assert_allclose(np.dot(h, g), 0.0, atol=1e-12)
    # even-shift orthogonality
    np.testing.assert_allclose(np.dot(h[:-2], h[2:]), 0.0, atol=1e-12)
    np.testing.assert_allclose(h.sum(), np.sqrt(2.0), atol=1e-12)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=16,
        max_size=64,
    )
)
def test_dwt_roundtrip_property(vals):
    x = np.asarray(vals[: len(vals) // 16 * 16], dtype=np.float64)
    d, a = dwt.dwt(x, "haar", levels=2)
    np.testing.assert_allclose(dwt.idwt(d, a, "haar"), x, atol=1e-6)


def test_wpt_roundtrip_and_parseval():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(5, 64))
    for wavelet in ("haar", "db4"):
        bands = dwt.wpt_batch(X, wavelet, levels=3)
        assert len(bands) == 8 and bands[0].shape == (5, 8)
        # orthonormal tree: leaf energies sum to the input energy
        e = sum(np.square(b).sum(axis=1) for b in bands)
        np.testing.assert_allclose(e, np.square(X).sum(axis=1), rtol=1e-9)
        np.testing.assert_allclose(
            dwt.iwpt_batch(bands, wavelet), X, atol=1e-10
        )


def test_wpt_low_path_equals_dwt_approx_and_level1_split():
    rng = np.random.default_rng(4)
    X = rng.normal(size=(4, 64))
    for wavelet in ("haar", "db4"):
        bands = dwt.wpt_batch(X, wavelet, levels=3)
        details, approx = dwt.dwt_batch(X, wavelet, 3)
        # band 0 is the all-low path == the DWT approximation
        np.testing.assert_allclose(bands[0], approx, atol=1e-12)
        # band 1 (low,low,high) == level-3 detail of the pyramid
        np.testing.assert_allclose(bands[1], details[2], atol=1e-12)
        # level-1: two-band WPT == one DWT split
        b1 = dwt.wpt_batch(X, wavelet, levels=1)
        d1, a1 = dwt.dwt_batch(X, wavelet, 1)
        np.testing.assert_allclose(b1[0], a1, atol=1e-12)
        np.testing.assert_allclose(b1[1], d1[0], atol=1e-12)


def test_wpt_haar_level1_closed_form():
    x = np.array([[1.0, 3.0, 2.0, 6.0]])
    lo, hi = dwt.wpt_batch(x, "haar", 1)
    np.testing.assert_allclose(lo[0], [4.0 / np.sqrt(2), 8.0 / np.sqrt(2)])
    np.testing.assert_allclose(hi[0], [-2.0 / np.sqrt(2), -4.0 / np.sqrt(2)])


def test_iwpt_rejects_non_power_of_two():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dwt.iwpt_batch([np.zeros((1, 4))] * 3, "haar")
