import hashlib
import pickle

import numpy as np
import pytest

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.io import reference_data as rd
from wavelet_decomposition_spark.kernel import wavelets as wl


def _assert_triplets_equal(got, want, rtol=0.0):
    """Two ``(rows, cols, vals)`` triplets: structure exact, values to
    ``rtol``."""
    for g, w in zip(got[:2], want[:2]):
        np.testing.assert_array_equal(g, w)
    np.testing.assert_allclose(got[2], want[2], rtol=rtol, atol=0)


@ei.reference_skipif(
    "translation/trans_square_12_18.p", "saved_matrix/square_shape/A_2012.npz"
)
def test_square_dictionary_exact_vs_golden_2012():
    trans = rd.load_translations("square")
    A = wl.generate_dictionary("square", trans[0])
    assert A.shape == (23360, 23423)
    _assert_triplets_equal(A.coo(), rd.load_golden_matrix("square", 2012))


@ei.reference_skipif(
    "translation/trans_sine_12_18.p", "saved_matrix/sine_shape/A_2012.npz"
)
def test_sine_dictionary_vs_golden_2012():
    # golden machine's libm rounds sin() differently in the last ulp for a
    # handful of samples; structure is exact, values within 1 ulp.
    trans = rd.load_translations("sine")
    A = wl.generate_dictionary("sine", trans[0])
    _assert_triplets_equal(
        A.coo(), rd.load_golden_matrix("sine", 2012), rtol=3e-16
    )


@ei.reference_skipif("saved_matrix/square_shape/no_trans/A_2012.npz")
def test_square_no_trans_dictionary_exact_vs_golden_2012():
    """The reference also ships untranslated dictionaries
    (saved_matrix/square_shape/no_trans/A_*.npz); trans=[0,0,0] must
    reproduce them column-exact."""
    A = wl.generate_dictionary("square", [0, 0, 0])
    G = rd.load_npz_csr(
        f"{rd.REFERENCE_ROOT}/saved_matrix/square_shape/no_trans/A_2012.npz"
    )
    _assert_triplets_equal(A.coo(), G)


@pytest.mark.slow
@pytest.mark.parametrize("shape", ["square", "sine"])
def test_dictionary_all_years(shape):
    trans = rd.load_translations(shape)
    for i, year in enumerate(range(2012, 2019)):
        A = wl.generate_dictionary(shape, trans[i])
        _assert_triplets_equal(
            A.coo(), rd.load_golden_matrix(shape, year), rtol=3e-16
        )


@ei.reference_skipif("saved_matrix/square_shape/A_2012.npz")
def test_load_reference_npz():
    rows, cols, vals = rd.load_golden_matrix("square", 2012)
    assert rows.size == cols.size == vals.size == 373568
    assert (rows.max(), cols.max()) == (23359, 23422)
    # Phi0 column = 1/sqrt(N) everywhere
    np.testing.assert_array_equal(rows[cols == 0], np.arange(23360))
    np.testing.assert_allclose(vals[cols == 0], 1.0 / np.sqrt(23360))


def test_load_npz_csr_reads_scipy_layout(tmp_path):
    """A dictionary written the way ``scipy.sparse.save_npz`` writes a CSR
    reads back as its own ``coo()`` triplets."""
    A = wl.generate_dictionary("square", ei.TRANSLATIONS["square"])
    rows, cols, vals = A.coo()
    indptr = np.concatenate([[0], np.cumsum(np.bincount(rows, minlength=A.shape[0]))])
    path = tmp_path / "A.npz"
    np.savez(path, indices=cols.astype(np.int32), indptr=indptr.astype(np.int32),
             format=np.array(b"csr"), shape=np.array(A.shape), data=vals)
    _assert_triplets_equal(rd.load_npz_csr(str(path)), (rows, cols, vals))


# sha256 of coo()'s rows, cols and vals bytes (int64, int64, float64) at
# the fixture translations, as the CSR construction this operator replaced
# produced them (rows expanded from its indptr)
COO_SHA256 = {
    "square": "64fc040dd1914c0d82bacddba4def4728e651b8131a0df5108c0fb383725d92d",
    "sine": "1d07877c78a5b55049215602bcaa5018269aa017dd802135f2d55c5631ff1b08",
}


@pytest.mark.parametrize("shape", ["square", "sine"])
def test_dictionary_structure_pinned(shape):
    rows, cols, vals = wl.generate_dictionary(shape, ei.TRANSLATIONS[shape]).coo()
    assert (rows.dtype, cols.dtype, vals.dtype) == (np.int64, np.int64, np.float64)
    digest = hashlib.sha256(rows.tobytes() + cols.tobytes() + vals.tobytes())
    assert digest.hexdigest() == COO_SHA256[shape]


@pytest.mark.parametrize("shape", ["square", "sine"])
def test_matvec_rmatvec_match_coo_scatter(shape):
    """``A @ x`` and ``A.T @ y`` equal a scatter-add over ``coo()``'s
    triplets to 1e-12 of the result's largest entry, at the fixture, the
    zero and two seeded translations."""
    rng = np.random.default_rng(17)
    for trans in (
        ei.TRANSLATIONS[shape], [0, 0, 0],
        *rng.integers(0, 23360, size=(2, 3)).tolist(),
    ):
        A = wl.generate_dictionary(shape, trans)
        assert A.shape == (23360, 23423)
        rows, cols, vals = A.coo()
        x = rng.normal(size=A.shape[1])
        y = rng.normal(size=A.shape[0])
        for got, want in (
            (A.matvec(x), np.bincount(rows, vals * x[cols], A.shape[0])),
            (A.rmatvec(y), np.bincount(cols, vals * y[rows], A.shape[1])),
        ):
            np.testing.assert_allclose(
                got, want, rtol=0, atol=1e-12 * np.abs(want).max(), err_msg=trans
            )


def test_dictionary_pickles_as_its_arguments():
    """A broadcast dictionary ships its shape and translation vector only,
    and the copy it is rebuilt into gives bit-identical matvecs."""
    A = wl.generate_dictionary("sine", [25, 22584, 7116])
    blob = pickle.dumps(A)
    assert len(blob) < 200
    B = pickle.loads(blob)
    rng = np.random.default_rng(11)
    x = rng.normal(size=A.shape[1])
    y = rng.normal(size=A.shape[0])
    assert B.shape == A.shape
    np.testing.assert_array_equal(B.matvec(x), A.matvec(x))
    np.testing.assert_array_equal(B.rmatvec(y), A.rmatvec(y))


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
