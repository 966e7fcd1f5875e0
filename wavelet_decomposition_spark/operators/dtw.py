"""Banded dynamic-time-warping distance between time series.

Why DTW at all: Euclidean distance between two activity series is brittle to
phase — a conversation burst that happens one hour later is "far" even when
the shapes are identical. DTW aligns the two index axes with a monotone
warping path and scores the best alignment; with a Sakoe–Chiba band of
radius ``r`` the alignment may locally lead/lag by at most ``r`` buckets and
the DP costs O(n*r) instead of O(n^2) (Sakoe & Chiba 1978, the standard
speech-alignment formulation — public algorithm).

Execution shape (Spark-first):

- ``pack_series`` turns the long (key, order, value) frame into one
  ``array<double>`` row per key — a single hash aggregate; the array rides
  Arrow into the kernel.
- ``dtw_allpairs`` scores a bounded set of series (S = number of series,
  e.g. the handful of metric series on a dashboard): it builds the S*(S-1)/2
  unordered pairs INSIDE the JVM with one collect_list + a
  transform/flatten/explode (no join at all, so no nested-loop plan), then
  one ``mapInPandas`` Arrow kernel scores each pair. The single packed row
  bounds S — all-pairs DTW is inherently quadratic in S.

The kernel is vectorized along anti-diagonals: cells (i, j) with i+j = s
depend only on diagonals s-1 and s-2, so each of the n+m-1 diagonal steps
is pure numpy slice arithmetic over the band — the Python loop is per
DIAGONAL, never per cell. Squared-difference local cost; reported distance
is sqrt(total), so for equal-length series the diagonal-only path gives
exactly the Euclidean distance — hence the provable invariants the tests
and the driver query pin:

- dtw(x, x) == 0;
- dtw(x, y) <= euclid(x, y)   (the diagonal path is inside any band);
- dtw is non-increasing in the radius (wider band = superset of paths);
- radius >= n+m reproduces the exact unbanded DTW (tested vs an O(n^2)
  reference implementation).

No reference counterpart (reference is batch numpy wavelet code); this is
§2.8 engine surface for series similarity next to ts_xcorr/corr_matrix.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel

def banded_dtw_numpy(x: np.ndarray, y: np.ndarray, radius: int) -> float:
    """Sakoe–Chiba banded DTW distance (sqrt of summed squared local costs).

    Anti-diagonal DP: diagonal s holds cells (i, j=s-i); D(i,j) depends on
    D(i-1,j) and D(i,j-1) (diagonal s-1) and D(i-1,j-1) (diagonal s-2), so
    every diagonal is one vectorized numpy step over the band. The band is
    widened to at least |n-m| so the end cell stays reachable.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, m = x.size, y.size
    if n == 0 or m == 0:
        raise ValueError("empty series")
    r = max(int(radius), abs(n - m))
    inf = np.inf
    prev2 = np.full(n + 1, inf)  # diagonal s-2; index i -> cell (i, s-2-i)
    prev1 = np.full(n + 1, inf)  # diagonal s-1
    prev2[0] = 0.0  # s=0 holds only the origin cell (0, 0)
    for s in range(2, n + m + 1):
        cur = np.full(n + 1, inf)
        ilo = max(1, s - m, (s - r + 1) // 2)
        ihi = min(n, s - 1, (s + r) // 2)
        if ilo <= ihi:
            i = np.arange(ilo, ihi + 1)
            cost = (x[i - 1] - y[s - i - 1]) ** 2
            best = np.minimum(prev1[i - 1], prev1[i])
            np.minimum(best, prev2[i - 1], out=best)
            cur[i] = cost + best
        prev2, prev1 = prev1, cur
    return float(np.sqrt(prev1[n]))


def full_dtw_numpy(x: np.ndarray, y: np.ndarray) -> float:
    """O(n*m) reference DTW (tests only — the oracle for the banded form)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, m = x.size, y.size
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            D[i, j] = (x[i - 1] - y[j - 1]) ** 2 + min(
                D[i - 1, j], D[i, j - 1], D[i - 1, j - 1]
            )
    return float(np.sqrt(D[n, m]))


def pack_series(series: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """Long (key, order, v) -> one (key, vals: array<double>) row per
    key, ordered by ``order_col``. One hash aggregate; the sort happens
    inside ``sort_array`` on the collected structs (per-group, no global
    sort shuffle)."""
    return (
        series.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(order_col).alias("o"),
                                        F.col("v")))
            ).alias("_p")
        )
        .select(
            "key",
            F.transform("_p", lambda s: s["v"].cast("double")).alias("vals"),
        )
    )


def _score_kernel(radius: int, wide_radius: int | None):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "key_a": pdf["key_a"], "key_b": pdf["key_b"],
                "n_a": [], "n_b": [], "dtw": [], "euclid": [],
            }
            if wide_radius is not None:
                out["dtw_wide"] = []
            for va, vb in zip(pdf["vals_a"], pdf["vals_b"]):
                xa = np.asarray(va, dtype=np.float64)
                xb = np.asarray(vb, dtype=np.float64)
                out["n_a"].append(xa.size)
                out["n_b"].append(xb.size)
                out["dtw"].append(banded_dtw_numpy(xa, xb, radius))
                out["euclid"].append(
                    float(np.sqrt(np.sum((xa - xb) ** 2)))
                    if xa.size == xb.size
                    else float("nan")
                )
                if wide_radius is not None:
                    out["dtw_wide"].append(
                        banded_dtw_numpy(xa, xb, wide_radius)
                    )
            yield pd.DataFrame(out)

    schema = (
        "key_a string, key_b string, n_a int, n_b int, "
        "dtw double, euclid double"
    )
    if wide_radius is not None:
        schema += ", dtw_wide double"
    return kernel, schema


def dtw_allpairs(
    series: DataFrame,
    key_col: str,
    order_col: str,
    radius: int,
    wide_radius: int | None = None,
    include_self: bool = False,
) -> DataFrame:
    """All unordered pairs over a BOUNDED set of series (dashboards,
    per-metric panels — tens, not millions). Pairs are enumerated inside
    the JVM from one collected array row (transform + flatten + explode —
    no join, so no nested-loop plan to regress); the packed row bounds S by
    design."""
    packed = pack_series(series, key_col, order_col)
    one = packed.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("key"), F.col("vals")))
        ).alias("arr")
    )
    lo = 1 if include_self else 2
    pairs = one.select(
        F.explode(
            F.flatten(
                F.transform(
                    "arr",
                    lambda s, i: F.transform(
                        F.slice(
                            "arr", i + lo, F.size("arr")
                        ),
                        lambda t: F.struct(
                            s["key"].alias("key_a"),
                            t["key"].alias("key_b"),
                            s["vals"].alias("vals_a"),
                            t["vals"].alias("vals_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.key_a", "p.key_b", "p.vals_a", "p.vals_b")
    # the explode lands on one task; spread the kernel work (O(n*radius)
    # per pair) across the cluster before scoring
    pairs = pairs.repartition(F.col("key_a"), F.col("key_b"))
    kernel, schema = _score_kernel(radius, wide_radius)
    return pairs.mapInPandas(worker_kernel(kernel), schema=schema)
