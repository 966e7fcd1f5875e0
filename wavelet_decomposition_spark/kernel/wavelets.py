"""Wavelet-dictionary construction — CSR-direct, pure numpy.

Reproduces, column-exactly, the dictionaries the reference builds densely and
then sparsifies (/root/reference/wavelet_decomposition.py:17-95 square,
:103-192 sine) — but builds the sparse triplets directly, which needs ~3 MB
instead of the reference's 4.38 GB dense intermediate and runs in <1 s/year.

Dictionary layout (shape ``N x M`` with ``N = dpy*dpd`` rows = time points):
column blocks ``[Phi0 offset (1) | year family 2^vy-1 | week family
52*(2^vw-1) | day family dpy*(2^vd-1)]``. Each wavelet is a dyadic block
pattern (square: +1/-1 halves; sine: one period of sin over its support,
day levels with support <= 4 points falling back to square — reference quirk
at wavelet_decomposition.py:167-175) circularly shifted by the per-year
translation for its family.

Exact-zero entries are dropped (mirroring ``scipy.sparse.csr_matrix(dense)``
canonicalization) so the CSR matches the reference's saved ``.npz`` files
bit-for-bit in structure.
"""

from __future__ import annotations

import numpy as np

from .sparse import CSRMatrix

# Reference pipeline parameters (tutorial.ipynb cell 6).
VY, VW, VD = 6, 3, 6
DPY = 365
NDPD = 64  # samples/day after resample
TIME_SCALES_HOURS = [
    0.75, 1.5, 3.0, 6.0, 12.0, 24.0, 42.0, 84.0, 168.0,
    273.75, 547.5, 1095.0, 2190.0, 4380.0, 8760.0,
]


def _sine_period(Dt: int) -> np.ndarray:
    """One sine period sampled on Dt points, endpoint excluded
    (reference's sine_function, wavelet_decomposition.py:98-101)."""
    return np.sin(np.linspace(0.0, 2.0 * np.pi, Dt, endpoint=False))


def _family_specs():
    """Yield (family, level, n_wavelets, support_len) in column order."""
    n = DPY * NDPD
    for k in range(VY):
        yield "year", k, 2**k, n >> k
    for k in range(VW):
        yield "week", k, 52 * 2**k, (7 * NDPD) >> k
    for k in range(VD):
        yield "day", k, DPY * 2**k, NDPD >> k


def generate_dictionary(shape: str, trans_vec) -> CSRMatrix:
    """Build the full wavelet dictionary for one year of the reference
    configuration (``VY``/``VW``/``VD`` levels, ``DPY`` x ``NDPD`` points).

    ``shape``: 'square' or 'sine'. ``trans_vec`` = [transday, transweek,
    transyear] circular shifts (reference applies ``translate(row, -trans)``,
    i.e. support positions move forward by +trans mod N).
    """
    if shape not in ("square", "sine"):
        raise ValueError("shape must be 'square' or 'sine'")
    transday, transweek, transyear = (int(t) for t in trans_vec)
    n = DPY * NDPD
    shift_of = {"year": transyear, "week": transweek, "day": transday}

    rows_parts: list[np.ndarray] = []
    cols_parts: list[np.ndarray] = []
    vals_parts: list[np.ndarray] = []

    # Phi0 offset column: square normalizes to 1/sqrt(N)
    # (wavelet_decomposition.py:42); sine leaves it at 1.0 (:131).
    phi0 = (1.0 / np.sqrt(n)) if shape == "square" else 1.0
    rows_parts.append(np.arange(n, dtype=np.int64))
    cols_parts.append(np.zeros(n, dtype=np.int64))
    vals_parts.append(np.full(n, phi0, dtype=np.float64))

    col = 1
    for family, _level, count, Dt in _family_specs():
        shift = shift_of[family]
        # base support pattern for one wavelet of this level
        use_square = shape == "square" or (family == "day" and Dt <= 4)
        if use_square:
            base_vals = np.concatenate(
                [np.ones(Dt // 2), -np.ones(Dt - Dt // 2)]
            )
        else:
            base_vals = _sine_period(Dt)
        keep = base_vals != 0.0  # csr canonicalization drops exact zeros
        base_off = np.arange(Dt, dtype=np.int64)[keep]
        base_vals = base_vals[keep]
        nk = base_vals.size

        starts = np.arange(count, dtype=np.int64) * Dt
        # positions after circular shift by +trans (mod N)
        pos = (starts[:, None] + base_off[None, :] + shift) % n
        rows_parts.append(pos.reshape(-1))
        cols_parts.append(
            np.repeat(np.arange(col, col + count, dtype=np.int64), nk)
        )
        vals_parts.append(np.tile(base_vals, count))
        col += count

    m = col
    return CSRMatrix.from_coo(
        np.concatenate(rows_parts),
        np.concatenate(cols_parts),
        np.concatenate(vals_parts),
        (n, m),
    )


def dictionary_width(vy: int = VY, vw: int = VW, vd: int = VD, dpy: int = DPY) -> int:
    return 1 + (2**vy - 1) + 52 * (2**vw - 1) + dpy * (2**vd - 1)


def mother_dictionary(
    family: str, shape: str, dpy: int = DPY, dpd: int = NDPD
) -> tuple[int, np.ndarray]:
    """The family's mother-wavelet set for the translation grid search
    (reference builds these per year at calc_translations.py:62-114), as
    ``(count, pattern)``: ``count`` copies of ``pattern`` on the disjoint
    supports ``[i * Dt, (i + 1) * Dt)`` of the ``dpy * dpd``-point grid,
    with ``Dt = pattern.size``. Raises ``ValueError`` when the supports do
    not fit the grid (the week family needs 364 days).
    """
    n = dpy * dpd
    if family == "year":
        count, Dt = 1, n
    elif family == "week":
        count, Dt = 52, 7 * dpd
    elif family == "day":
        count, Dt = dpy, dpd
    else:
        raise ValueError(family)
    if count * Dt > n:
        raise ValueError(
            f"{count} {family} supports of {Dt} points exceed the {n}-point grid"
        )
    if shape == "square":
        return count, np.concatenate([np.ones(Dt // 2), -np.ones(Dt - Dt // 2)])
    return count, _sine_period(Dt)


# ---------------------------------------------------------------------------
# flat coefficient index <-> (scale_idx, pos) mapping
# ---------------------------------------------------------------------------

def _list_sizes():
    """Length of each scale list in the solver's flat order: the offset,
    then every level of :func:`_family_specs`."""
    return [1] + [count for _family, _level, count, _dt in _family_specs()]


def flat_to_scale_pos():
    """Vectorized mapping from the solver's natural flat coefficient order to
    the reference's exported sheet layout.

    Natural flat order: ``[offset | year k=0..VY-1 | week k=0..VW-1 |
    day k=0..VD-1]`` (slicing at wavelet_decomposition.py:271-286). The
    exported sheet reverses the scale list and each scale's entries
    (wavelet_decomposition.py:290), so ``scale_idx`` runs finest -> coarsest:
    0 = 0.75 h (day k=VD-1) ... 14 = 8760 h (year k=0), 15 = offset.

    Returns (scale_idx[M] int32, pos[M] int32).
    """
    sizes = _list_sizes()
    scale_idx = np.repeat(np.arange(len(sizes) - 1, -1, -1, dtype=np.int32), sizes)
    pos = np.concatenate([np.arange(n - 1, -1, -1, dtype=np.int32) for n in sizes])
    return scale_idx, pos


def scale_pos_to_flat(scale_idx, pos):
    """Inverse of :func:`flat_to_scale_pos`: the flat index of each sheet
    coordinate, i.e. its scale list's last flat index minus ``pos``
    (the sheet reverses each list; wavelet_decomposition.py:385-434)."""
    last = (np.cumsum(_list_sizes()) - 1)[::-1]
    return last[np.asarray(scale_idx)] - np.asarray(pos)


def scale_sizes(vy: int = VY, vw: int = VW, vd: int = VD, dpy: int = DPY):
    """Length of each scale list, indexed by scale_idx (finest -> coarsest,
    then offset)."""
    sizes = [1]
    for k in range(vy):
        sizes.append(2**k)
    for k in range(vw):
        sizes.append(52 * 2**k)
    for k in range(vd):
        sizes.append(dpy * 2**k)
    return list(reversed(sizes))
