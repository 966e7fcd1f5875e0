"""Damped least-squares solver: LSQR (Paige & Saunders, ACM TOMS 1982).

Pure-numpy transcription of the published algorithm (the same algorithm
scipy.sparse.linalg.lsqr implements), needed because the sandbox has no
scipy. The reference calls ``lsqr(A, s, damp=0.001, atol=0, btol=0,
conlim=0)`` for every (signal, year) group (the reference's
``wavelet_decomposition.py``, lines 195-199), and its translation search
the same damped solve once per shift (``calc_translations.py``). That
damping and those zero tolerances are the only ones the engine runs, so
they are fixed here: the tolerance tests compare against 0.0 and the
solver runs until the machine-epsilon guard tests fire, so an exact
transcription of the stopping rules reproduces the golden coefficients to
~1e-12 absolute error.

The matrix argument is anything exposing ``matvec``/``rmatvec``/``shape``
(the engine's is
:class:`~wavelet_decomposition_spark.kernel.wavelets.WaveletDictionary`). One
solve is a single sequential numpy computation — it is never split across
Spark partitions (determinism under float non-reassociation), parallelism
comes from running many (series, year) groups as independent tasks.
"""

from __future__ import annotations

import numpy as np

_EPS = np.finfo(np.float64).eps
DAMP = 0.001


def _sym_ortho(a: float, b: float):
    """Stable Givens rotation (c, s, r) with r = hypot(a, b)."""
    if b == 0.0:
        return np.sign(a) if a != 0 else 1.0, 0.0, abs(a)
    if a == 0.0:
        return 0.0, np.sign(b), abs(b)
    if abs(b) > abs(a):
        tau = a / b
        s = np.sign(b) / np.sqrt(1.0 + tau * tau)
        c = s * tau
        r = b / s
    else:
        tau = b / a
        c = np.sign(a) / np.sqrt(1.0 + tau * tau)
        s = c * tau
        r = a / c
    return c, s, r


def lsqr(A, b: np.ndarray):
    """Solve ``min ||A x - b||^2 + DAMP^2 ||x||^2``.

    Returns ``(x, istop, itn)``. Stopping-rule semantics follow the
    published algorithm with ``atol=btol=0, conlim=0``: iteration continues
    until the machine-precision guards (istop 4/5/6) or ``2 * n``
    iterations.
    """
    m, n = A.shape
    b = np.asarray(b, dtype=np.float64)
    iter_lim = 2 * n

    dampsq = DAMP * DAMP

    itn = 0
    istop = 0
    anorm = 0.0
    acond = 0.0
    ddnorm = 0.0
    res2 = 0.0
    xnorm = 0.0
    xxnorm = 0.0
    z = 0.0
    cs2 = -1.0
    sn2 = 0.0

    x = np.zeros(n, dtype=np.float64)
    u = b.copy()
    alfa = 0.0
    beta = float(np.linalg.norm(u))
    if beta > 0:
        u /= beta
        v = A.rmatvec(u)
        alfa = float(np.linalg.norm(v))
    else:
        v = x.copy()
    if alfa > 0:
        v /= alfa
    w = v.copy()

    arnorm = alfa * beta
    if arnorm == 0:
        return x, 0, 0

    rhobar = alfa
    phibar = beta
    bnorm = beta
    rnorm = beta

    while itn < iter_lim:
        itn += 1

        # bidiagonalization step
        u = A.matvec(v) - alfa * u
        beta = float(np.linalg.norm(u))
        if beta > 0:
            u /= beta
            anorm = np.sqrt(anorm**2 + alfa**2 + beta**2 + dampsq)
            v = A.rmatvec(u) - beta * v
            alfa = float(np.linalg.norm(v))
            if alfa > 0:
                v /= alfa

        # eliminate the damping parameter with a plane rotation
        rhobar1 = np.sqrt(rhobar**2 + dampsq)
        cs1 = rhobar / rhobar1
        sn1 = DAMP / rhobar1
        psi = sn1 * phibar
        phibar = cs1 * phibar

        # plane rotation to eliminate the subdiagonal element
        cs, sn, rho = _sym_ortho(rhobar1, beta)
        theta = sn * alfa
        rhobar = -cs * alfa
        phi = cs * phibar
        phibar = sn * phibar
        tau = sn * phi

        # update x and the search direction
        t1 = phi / rho
        t2 = -theta / rho
        dk = w / rho
        x += t1 * w
        w = v + t2 * w
        ddnorm += float(np.linalg.norm(dk)) ** 2

        # estimate of norm(x)
        delta = sn2 * rho
        gambar = -cs2 * rho
        rhs = phi - delta * z
        zbar = rhs / gambar
        xnorm = np.sqrt(xxnorm + zbar**2)
        gamma = np.sqrt(gambar**2 + theta**2)
        cs2 = gambar / gamma
        sn2 = theta / gamma
        z = rhs / gamma
        xxnorm += z * z

        # residual / condition estimates
        acond = anorm * np.sqrt(ddnorm)
        res1 = phibar * phibar
        res2 += psi * psi
        rnorm = np.sqrt(res1 + res2)
        arnorm = alfa * abs(tau)

        # convergence tests
        test1 = rnorm / bnorm
        test2 = arnorm / (anorm * rnorm + _EPS)
        test3 = 1.0 / (acond + _EPS)
        t1chk = test1 / (1.0 + anorm * xnorm / bnorm)

        if itn >= iter_lim:
            istop = 7
        if 1.0 + test3 <= 1.0:
            istop = 6
        if 1.0 + test2 <= 1.0:
            istop = 5
        if 1.0 + t1chk <= 1.0:
            istop = 4
        if test3 <= 0.0:
            istop = 3
        if test2 <= 0.0:
            istop = 2
        if test1 <= 0.0:
            istop = 1
        if istop != 0:
            break

    return x, istop, itn


def beta_decomposition(A, signal: np.ndarray) -> np.ndarray:
    """The reference's solve call, ``lsqr(A, s, damp=0.001, atol=0, btol=0,
    conlim=0)`` (its ``wavelet_decomposition.py``, lines 195-199): LSQR
    damped by ``DAMP`` with the exact-zero tolerances ``lsqr`` fixes."""
    x, _, _ = lsqr(A, signal)
    return x
