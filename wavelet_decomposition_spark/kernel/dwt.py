"""Haar / Daubechies-4 DWT and MODWT pyramids — pure numpy, vectorized.

The sandbox has no pywt, so the filters are hard-coded from the published
Daubechies (1988) coefficients and the transforms are validated by
mathematical identities instead of library parity (see tests):

- orthonormal periodized DWT: perfect reconstruction + Parseval energy
  preservation per level; Haar matches its closed form
  ``a_k = (x_{2k}+x_{2k+1})/sqrt(2)``.
- MODWT (maximal-overlap, Percival & Walden 2000 ch. 5): energy
  decomposition ``||x||^2 = sum_j ||W_j||^2 + ||V_J||^2`` and circular
  shift-equivariance.

These kernels run inside ``applyInPandas`` workers over gap-filled,
dyadic-length activity-series windows (north star: per-scale
detail/approximation coefficients and energy spectra); one window's pyramid
is a single sequential numpy computation.
"""

from __future__ import annotations

import numpy as np

SQRT2 = np.sqrt(2.0)

# Orthonormal scaling (low-pass) filters. db4 = 4 vanishing moments, 8 taps
# (Daubechies 1988, standard published values).
_SCALING = {
    "haar": np.array([1.0, 1.0]) / SQRT2,
    "db4": np.array(
        [
            0.23037781330885523,
            0.7148465705525415,
            0.6308807679295904,
            -0.02798376941698385,
            -0.18703481171888114,
            0.030841381835986965,
            0.032883011666982945,
            -0.010597401784997278,
        ]
    ),
}


def filters(wavelet: str):
    """(h, g): scaling and wavelet filters, quadrature-mirror related."""
    h = _SCALING[wavelet]
    L = h.size
    g = ((-1.0) ** np.arange(L)) * h[::-1]
    return h, g


def max_level(n: int, wavelet: str) -> int:
    h, _ = filters(wavelet)
    lvl = 0
    while n % 2 == 0 and n // 2 >= 1 and n >= h.size:
        lvl += 1
        n //= 2
    return lvl


def dwt(x: np.ndarray, wavelet: str = "haar", levels: int | None = None):
    """Periodized orthonormal DWT pyramid.

    Returns ``(details, approx)``: ``details[j]`` is level j+1's detail
    coefficients (len n/2^(j+1)), ``approx`` the final approximation.
    Requires ``len(x)`` divisible by ``2**levels``.
    """
    x = np.asarray(x, dtype=np.float64)
    if levels is None:
        levels = max_level(x.size, wavelet)
    details, approx = dwt_batch(x[None, :], wavelet, levels)
    return [d[0] for d in details], approx[0]


def _analysis_level_batch(A: np.ndarray, h: np.ndarray, g: np.ndarray):
    """One periodized analysis level over rows of ``A``: returns
    ``(S, D)`` each shaped ``(B, n/2)``. Periodized conv as `taps`
    strided slice-axpys over a wrap-padded copy — no (B, n/2, taps)
    gather temp, no per-window gufunc calls (the gather form dominated
    the pyramid UDF's profile)."""
    taps = h.size
    n = A.shape[1]
    if n % 2:
        raise ValueError("signal length must be divisible by 2**levels")
    if taps > 2:
        reps = 1 + -(-(taps - 2) // n)
        Ap = np.concatenate([A] * reps, axis=1)[:, : n + taps - 2]
    else:
        Ap = A
    seg = Ap[:, 0 : n - 1 : 2]
    D = g[0] * seg
    S = h[0] * seg
    for m in range(1, taps):
        seg = Ap[:, m : m + n - 1 : 2]
        D += g[m] * seg
        S += h[m] * seg
    return S, D


def _synthesis_level_batch(
    S: np.ndarray, D: np.ndarray, h: np.ndarray, g: np.ndarray
) -> np.ndarray:
    """One synthesis level (transpose of :func:`_analysis_level_batch`):
    scatter with one ``bincount`` over flattened (row, position) indices."""
    nrows = S.shape[0]
    ncur = 2 * S.shape[1]
    k = np.arange(S.shape[1])
    idx = (2 * k[:, None] + np.arange(h.size)[None, :]) % ncur
    contrib = (
        h[None, None, :] * S[:, :, None] + g[None, None, :] * D[:, :, None]
    )
    flat = (np.arange(nrows)[:, None, None] * ncur + idx[None, :, :]).ravel()
    return np.bincount(
        flat, weights=contrib.ravel(), minlength=nrows * ncur
    ).reshape(nrows, ncur)


def dwt_batch(X: np.ndarray, wavelet: str, levels: int):
    """Batched :func:`dwt` over the rows of ``X`` (shape ``(B, N)``) — one
    gather + matmul per level for the whole batch, so a task processing
    thousands of windows pays numpy-kernel cost, not per-window Python.
    Returns ``(details, approx)`` with ``details[j]`` shaped
    ``(B, N/2^(j+1))`` and ``approx`` ``(B, N/2^levels)``."""
    A = np.ascontiguousarray(X, dtype=np.float64)
    h, g = filters(wavelet)
    details = []
    for _ in range(levels):
        A, D = _analysis_level_batch(A, h, g)
        details.append(D)
    return details, A


def wpt_batch(X: np.ndarray, wavelet: str, levels: int) -> list[np.ndarray]:
    """Batched wavelet PACKET transform (Coifman & Wickerhauser 1992 —
    the FULL binary tree: unlike the DWT pyramid, DETAIL bands are
    decomposed too, giving uniform frequency resolution — the right
    basis when the interesting structure lives mid-band, e.g. activity
    rhythms faster than the pyramid's coarse scales). Returns the
    ``2**levels`` leaf bands in NATURAL (Paley) order — band index bits
    spell the low(0)/high(1) filter path from the root — each shaped
    ``(B, N/2**levels)``. Orthonormal: leaf energies sum to the input's
    (Parseval) at every level of the tree."""
    bands = [np.ascontiguousarray(X, dtype=np.float64)]
    h, g = filters(wavelet)
    for _ in range(levels):
        nxt = []
        for A in bands:
            S, D = _analysis_level_batch(A, h, g)
            nxt.append(S)
            nxt.append(D)
        bands = nxt
    return bands


def iwpt_batch(bands: list[np.ndarray], wavelet: str = "haar") -> np.ndarray:
    """Inverse of :func:`wpt_batch`: pairwise bottom-up synthesis."""
    if len(bands) & (len(bands) - 1):
        raise ValueError("band count must be a power of two")
    h, g = filters(wavelet)
    cur = [np.ascontiguousarray(b, dtype=np.float64) for b in bands]
    while len(cur) > 1:
        cur = [
            _synthesis_level_batch(cur[i], cur[i + 1], h, g)
            for i in range(0, len(cur), 2)
        ]
    return cur[0]


def idwt(details, approx: np.ndarray, wavelet: str = "haar") -> np.ndarray:
    """Inverse of :func:`dwt` (transpose of the orthonormal analysis)."""
    h, g = filters(wavelet)
    a = np.asarray(approx, dtype=np.float64)
    for d in reversed(details):
        n = 2 * a.size
        x = np.zeros(n)
        k = np.arange(a.size)
        idx = (2 * k[:, None] + np.arange(h.size)[None, :]) % n
        np.add.at(x, idx, h[None, :] * a[:, None])
        np.add.at(x, idx, g[None, :] * np.asarray(d)[:, None])
        a = x
    return a


def idwt_batch(details, approx: np.ndarray, wavelet: str = "haar") -> np.ndarray:
    """Batched inverse of :func:`dwt_batch` (transpose of the orthonormal
    analysis, like :func:`idwt`): synthesis contributions are scattered with
    one ``bincount`` per level over flattened (row, position) indices — no
    per-window Python, no ``np.add.at`` on strided views."""
    h, g = filters(wavelet)
    A = np.ascontiguousarray(approx, dtype=np.float64)
    for d in reversed(details):
        A = _synthesis_level_batch(
            A, np.ascontiguousarray(d, dtype=np.float64), h, g
        )
    return A


def modwt(x: np.ndarray, wavelet: str = "haar", levels: int | None = None):
    """Maximal-overlap DWT: returns ``(W, V)`` with ``W[j]`` the level-(j+1)
    wavelet coefficients (each len N) and ``V`` the final scaling
    coefficients. Circular boundary."""
    x = np.asarray(x, dtype=np.float64)
    if levels is None:
        h, _ = filters(wavelet)
        levels = max(1, int(np.log2(max(x.size // h.size, 2))))
    W, V = modwt_batch(x[None, :], wavelet, levels)
    return [w[0] for w in W], V[0]


def modwt_batch(X: np.ndarray, wavelet: str, levels: int):
    """Batched :func:`modwt` over rows of ``X`` (shape ``(B, N)``); see
    :func:`dwt_batch`. ``W[j]`` and ``V`` all come back shaped ``(B, N)``."""
    V = np.ascontiguousarray(X, dtype=np.float64)
    h, g = filters(wavelet)
    ht, gt = h / SQRT2, g / SQRT2
    n = V.shape[1]
    W = []
    for j in range(1, levels + 1):
        step = 2 ** (j - 1)
        # circular shifts as slices of [V | V] — no (B, N, taps) gather temp
        Vp = np.concatenate([V, V], axis=1)
        Wj = gt[0] * V
        Vn = ht[0] * V
        for m in range(1, h.size):
            s = (step * m) % n
            seg = Vp[:, n - s : 2 * n - s]
            Wj += gt[m] * seg
            Vn += ht[m] * seg
        W.append(Wj)
        V = Vn
    return W, V


def imodwt(W, V: np.ndarray, wavelet: str = "haar") -> np.ndarray:
    """Inverse MODWT (circular)."""
    h, g = filters(wavelet)
    ht, gt = h / SQRT2, g / SQRT2
    v = np.asarray(V, dtype=np.float64)
    n = v.size
    t = np.arange(n)
    for j in range(len(W), 0, -1):
        step = 2 ** (j - 1)
        idx = (t[:, None] + step * np.arange(h.size)[None, :]) % n
        v = v[idx] @ ht + np.asarray(W[j - 1])[idx] @ gt
    return v
