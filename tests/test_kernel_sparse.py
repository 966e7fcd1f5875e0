import pickle

import numpy as np

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.kernel.sparse import CSRMatrix, load_npz_csr


def _random_csr(rng, m=40, n=30, density=0.2):
    dense = rng.normal(size=(m, n)) * (rng.random((m, n)) < density)
    rows, cols = np.nonzero(dense)
    return dense, CSRMatrix.from_coo(rows, cols, dense[rows, cols], (m, n))


def test_matvec_rmatvec_match_dense():
    rng = np.random.default_rng(7)
    dense, A = _random_csr(rng)
    x = rng.normal(size=dense.shape[1])
    y = rng.normal(size=dense.shape[0])
    np.testing.assert_allclose(A.matvec(x), dense @ x, rtol=1e-13)
    np.testing.assert_allclose(A.rmatvec(y), dense.T @ y, rtol=1e-13)


def test_pickle_ships_only_the_four_arrays():
    """A broadcast CSR is pickled as data/indices/indptr/shape: the row ids
    and the CSC view are rebuilt where it is unpickled, and its matvecs
    are bit-identical to the original's."""
    rng = np.random.default_rng(11)
    _, A = _random_csr(rng, m=400, n=300)
    x = rng.normal(size=A.shape[1])
    y = rng.normal(size=A.shape[0])
    A.rmatvec(y)  # builds the CSC view on the original
    blob = pickle.dumps(A)
    assert len(blob) <= A.data.nbytes + A.indices.nbytes + A.indptr.nbytes + 1024
    B = pickle.loads(blob)
    assert B.shape == A.shape
    np.testing.assert_array_equal(B.matvec(x), A.matvec(x))
    np.testing.assert_array_equal(B.rmatvec(y), A.rmatvec(y))


def test_from_coo_canonical_order():
    # duplicate-free triplets in scrambled order -> sorted CSR
    rows = np.array([2, 0, 1, 0])
    cols = np.array([1, 2, 0, 0])
    vals = np.array([4.0, 3.0, 2.0, 1.0])
    A = CSRMatrix.from_coo(rows, cols, vals, (3, 3))
    assert A.indptr.tolist() == [0, 2, 3, 4]
    assert A.indices.tolist() == [0, 2, 0, 1]
    assert A.data.tolist() == [1.0, 3.0, 2.0, 4.0]


@ei.reference_skipif("saved_matrix/square_shape/A_2012.npz")
def test_load_reference_npz():
    A = load_npz_csr("/root/reference/saved_matrix/square_shape/A_2012.npz")
    assert A.shape == (23360, 23423)
    assert A.nnz == 373568
    # Phi0 column = 1/sqrt(N) everywhere
    x = np.zeros(A.shape[1])
    x[0] = 1.0
    col0 = A.matvec(x)
    np.testing.assert_allclose(col0, 1.0 / np.sqrt(23360))
