"""The paper's wavelet dictionary as its level list, pure numpy.

Reproduces, column-exactly, the dictionaries the reference builds densely and
then sparsifies (/root/reference/wavelet_decomposition.py:17-95 square,
:103-192 sine) without building either form: every level is ``count``
copies of one pattern on consecutive supports, and all levels of a family
share one circular shift, so the dictionary is one pattern per level and
one shift per family. ``A @ x`` and ``A.T @ y`` are one ``np.roll`` per
family plus one reshape per level, with no index arrays.

Dictionary layout (shape ``N x M`` with ``N = dpy*dpd`` rows = time points):
column blocks ``[Phi0 offset (1) | year family 2^vy-1 | week family
52*(2^vw-1) | day family dpy*(2^vd-1)]``. Each wavelet is a dyadic block
pattern (square: +1/-1 halves; sine: one period of sin over its support,
day levels with support <= 4 points falling back to square — reference quirk
at wavelet_decomposition.py:167-175) circularly shifted by the per-year
translation for its family.
"""

from __future__ import annotations

import numpy as np

# Reference pipeline parameters (tutorial.ipynb cell 6).
VY, VW, VD = 6, 3, 6
DPY = 365
NDPD = 64  # samples/day after resample
TIME_SCALES_HOURS = [
    0.75, 1.5, 3.0, 6.0, 12.0, 24.0, 42.0, 84.0, 168.0,
    273.75, 547.5, 1095.0, 2190.0, 4380.0, 8760.0,
]


def _pattern(shape: str, Dt: int) -> np.ndarray:
    """One wavelet on a ``Dt``-point support: +1 then -1 halves (square), or
    one sine period with the endpoint excluded (the reference's
    sine_function, wavelet_decomposition.py:98-101)."""
    if shape == "square":
        return np.concatenate([np.ones(Dt // 2), -np.ones(Dt - Dt // 2)])
    return np.sin(np.linspace(0.0, 2.0 * np.pi, Dt, endpoint=False))


def _family_specs(dpy: int = DPY, dpd: int = NDPD):
    """Yield (family, level, n_wavelets, support_len) in column order."""
    n = dpy * dpd
    for k in range(VY):
        yield "year", k, 2**k, n >> k
    for k in range(VW):
        yield "week", k, 52 * 2**k, (7 * dpd) >> k
    for k in range(VD):
        yield "day", k, dpy * 2**k, dpd >> k


class WaveletDictionary:
    """The full wavelet dictionary of one year of the reference
    configuration (``VY``/``VW``/``VD`` levels, ``DPY`` x ``NDPD`` points),
    stored as its level list: ``phi0``, the offset column's value, and per
    family ``(shift, [(first column, count, pattern)])``.

    ``shape``: 'square' or 'sine'. ``trans_vec`` = [transday, transweek,
    transyear] circular shifts (reference applies ``translate(row, -trans)``,
    i.e. support positions move forward by +trans mod N). It pickles as
    these two arguments and is rebuilt where it is unpickled (~1 ms)."""

    def __init__(self, shape: str, trans_vec):
        if shape not in ("square", "sine"):
            raise ValueError("shape must be 'square' or 'sine'")
        transday, transweek, transyear = (int(t) for t in trans_vec)
        self._args = (shape, (transday, transweek, transyear))
        n = DPY * NDPD
        # Phi0 offset column: square normalizes to 1/sqrt(N)
        # (wavelet_decomposition.py:42); sine leaves it at 1.0 (:131).
        self.phi0 = (1.0 / np.sqrt(n)) if shape == "square" else 1.0
        levels = {"year": [], "week": [], "day": []}
        col = 1
        for family, _level, count, Dt in _family_specs():
            # reference quirk (wavelet_decomposition.py:167-175): sine day
            # levels of <= 4 points are square
            kind = "square" if family == "day" and Dt <= 4 else shape
            levels[family].append((col, count, _pattern(kind, Dt)))
            col += count
        shift_of = {"year": transyear, "week": transweek, "day": transday}
        self.families = [(shift_of[f], lv) for f, lv in levels.items()]
        self.shape = (n, col)

    def __reduce__(self):
        return WaveletDictionary, self._args

    def matvec(self, x: np.ndarray) -> np.ndarray:
        """``A @ x``: each level's outer product of its coefficients and
        pattern fills its supports of the family's unshifted vector, which
        one roll moves into place."""
        n = self.shape[0]
        y = np.full(n, self.phi0 * x[0])
        for shift, levels in self.families:
            base = np.zeros(n)
            for col, count, pattern in levels:
                base[: count * pattern.size] += np.outer(
                    x[col : col + count], pattern
                ).ravel()
            y += np.roll(base, shift)
        return y

    def rmatvec(self, y: np.ndarray) -> np.ndarray:
        """``A.T @ y``: per family, ``y`` rolled back by the shift; per
        level, its supports as rows times the pattern."""
        x = np.empty(self.shape[1])
        x[0] = self.phi0 * y.sum()
        for shift, levels in self.families:
            base = np.roll(y, -shift)
            for col, count, pattern in levels:
                x[col : col + count] = (
                    base[: count * pattern.size].reshape(count, -1) @ pattern
                )
        return x

    def coo(self):
        """The nonzeros as ``(rows, cols, vals)`` in canonical CSR order
        (by row, then column), exact zeros dropped as
        ``scipy.sparse.csr_matrix(dense)`` drops them: the structure and
        values of the reference's saved ``A_YYYY.npz`` files."""
        n = self.shape[0]
        rows = [np.arange(n)]
        cols = [np.zeros(n, dtype=np.int64)]
        vals = [np.full(n, self.phi0)]
        for shift, levels in self.families:
            for col, count, pattern in levels:
                rows.append((np.arange(count * pattern.size) + shift) % n)
                cols.append(np.repeat(np.arange(col, col + count), pattern.size))
                vals.append(np.tile(pattern, count))
        rows, cols, vals = (np.concatenate(p) for p in (rows, cols, vals))
        keep = vals != 0.0
        rows, cols, vals = rows[keep], cols[keep], vals[keep]
        order = np.lexsort((cols, rows))
        return rows[order], cols[order], vals[order]


# the name the callers build a year's dictionary by
generate_dictionary = WaveletDictionary


def dictionary_width(vy: int = VY, vw: int = VW, vd: int = VD, dpy: int = DPY) -> int:
    return 1 + (2**vy - 1) + 52 * (2**vw - 1) + dpy * (2**vd - 1)


def mother_dictionary(
    family: str, shape: str, dpy: int = DPY, dpd: int = NDPD
) -> tuple[int, np.ndarray]:
    """The family's mother-wavelet set for the translation grid search
    (reference builds these per year at calc_translations.py:62-114), as
    ``(count, pattern)``: level 0 of the family, ``count`` copies of
    ``pattern`` on the disjoint supports ``[i * Dt, (i + 1) * Dt)`` of the
    ``dpy * dpd``-point grid, with ``Dt = pattern.size``. Raises
    ``ValueError`` when the supports do not fit the grid (the week family
    needs 364 days).
    """
    level0 = {f: (c, dt) for f, k, c, dt in _family_specs(dpy, dpd) if k == 0}
    if family not in level0:
        raise ValueError(family)
    count, Dt = level0[family]
    n = dpy * dpd
    if count * Dt > n:
        raise ValueError(
            f"{count} {family} supports of {Dt} points exceed the {n}-point grid"
        )
    return count, _pattern(shape, Dt)


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
