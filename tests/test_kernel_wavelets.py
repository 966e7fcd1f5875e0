import numpy as np
import pytest

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.io import reference_data as rd
from wavelet_decomposition_spark.kernel import wavelets as wl


@ei.reference_skipif(
    "translation/trans_square_12_18.p", "saved_matrix/square_shape/A_2012.npz"
)
def test_square_dictionary_exact_vs_golden_2012():
    trans = rd.load_translations("square")
    A = wl.generate_dictionary("square", trans[0])
    G = rd.load_golden_matrix("square", 2012)
    assert A.shape == G.shape == (23360, 23423)
    assert np.array_equal(A.indptr, G.indptr)
    assert np.array_equal(A.indices, G.indices)
    assert np.array_equal(A.data, G.data)


@ei.reference_skipif(
    "translation/trans_sine_12_18.p", "saved_matrix/sine_shape/A_2012.npz"
)
def test_sine_dictionary_vs_golden_2012():
    trans = rd.load_translations("sine")
    A = wl.generate_dictionary("sine", trans[0])
    G = rd.load_golden_matrix("sine", 2012)
    assert np.array_equal(A.indptr, G.indptr)
    assert np.array_equal(A.indices, G.indices)
    # golden machine's libm rounds sin() differently in the last ulp for a
    # handful of samples; structure is exact, values within 1 ulp.
    np.testing.assert_allclose(A.data, G.data, rtol=3e-16, atol=0)


@ei.reference_skipif("saved_matrix/square_shape/no_trans/A_2012.npz")
def test_square_no_trans_dictionary_exact_vs_golden_2012():
    """The reference also ships untranslated dictionaries
    (saved_matrix/square_shape/no_trans/A_*.npz); trans=[0,0,0] must
    reproduce them column-exact."""
    A = wl.generate_dictionary("square", [0, 0, 0])
    G = rd.load_npz_csr(
        f"{rd.REFERENCE_ROOT}/saved_matrix/square_shape/no_trans/A_2012.npz"
    )
    assert A.shape == G.shape == (23360, 23423)
    assert np.array_equal(A.indptr, G.indptr)
    assert np.array_equal(A.indices, G.indices)
    assert np.array_equal(A.data, G.data)


@pytest.mark.slow
@pytest.mark.parametrize("shape", ["square", "sine"])
def test_dictionary_all_years(shape):
    trans = rd.load_translations(shape)
    for i, year in enumerate(range(2012, 2019)):
        A = wl.generate_dictionary(shape, trans[i])
        G = rd.load_golden_matrix(shape, year)
        assert np.array_equal(A.indptr, G.indptr), (shape, year)
        assert np.array_equal(A.indices, G.indices), (shape, year)
        np.testing.assert_allclose(A.data, G.data, rtol=3e-16, atol=0)


def test_flat_to_scale_pos_bijection():
    scale_idx, pos = wl.flat_to_scale_pos()
    m = wl.dictionary_width()
    assert scale_idx.size == pos.size == m == 23423
    # (scale_idx, pos) pairs are unique
    keys = scale_idx.astype(np.int64) * 100000 + pos
    assert np.unique(keys).size == m
    # sizes per scale match the exported-sheet layout (finest -> coarsest)
    sizes = wl.scale_sizes()
    assert sizes == [11680, 5840, 2920, 1460, 730, 365, 208, 104, 52,
                     32, 16, 8, 4, 2, 1, 1]
    for s, size in enumerate(sizes):
        sel = scale_idx == s
        assert sel.sum() == size
        assert set(pos[sel]) == set(range(size))
    # scale_pos_to_flat inverts it, on the whole layout and on any subset
    np.testing.assert_array_equal(wl.scale_pos_to_flat(scale_idx, pos), np.arange(m))
    sub = np.random.default_rng(3).permutation(m)[:5000]
    np.testing.assert_array_equal(wl.scale_pos_to_flat(scale_idx[sub], pos[sub]), sub)


def test_mother_dictionary_shapes():
    for family, count, width in (
        ("year", 1, 23360), ("week", 52, 7 * 64), ("day", 365, 64)
    ):
        got, pattern = wl.mother_dictionary(family, "square")
        assert (got, pattern.shape) == (count, (width,))
        # square mothers are zero-sum
        np.testing.assert_allclose(pattern.sum(), 0.0)


def test_mother_dictionary_supports_must_fit_the_grid():
    """52 week supports need 364 days: a 16-day grid has no room for them,
    in either shape."""
    for shape in ("square", "sine"):
        with pytest.raises(ValueError, match="exceed"):
            wl.mother_dictionary("week", shape, 16, 8)
