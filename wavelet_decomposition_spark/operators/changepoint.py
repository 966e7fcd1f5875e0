"""Multiple-changepoint detection per bounded series group — PELT
(Pruned Exact Linear Time; Killick, Fearnhead, Eckley, JASA 2012,
public algorithm) with the Gaussian mean-shift cost. Extends the
single-changepoint CUSUM in tsfeatures.py to the full segmentation
problem: minimize sum of per-segment costs + beta * (#changepoints),
EXACTLY — PELT's pruning provably never discards an optimal candidate,
so its answer equals the O(n^2) dynamic program's.

Scale shape: one ``applyInPandas`` per series group — the same bounded-
group contract as the DWT/matrix-profile family (groups are retention-
tier series: a day of 1m buckets is 1,440 points, a month of 1h buckets
744; the rollup tower is what makes per-group kernels viable at 10^12
raw turns). Inside a group: cumulative-sum prefix costs, a numpy-
vectorized candidate scan per step, O(n * |candidates|) with the
candidate set typically O(1) under frequent changes. Nothing shuffles
except the one groupBy exchange; output is segments, not points.

Determinism: a group lives in one task; costs derive from left-to-right
prefix sums (fixed association); argmin tie-breaks at the lowest
candidate index — so output is bit-stable under any partitioning.

Verification: the kernel always runs the UNPRUNED O(n^2) DP side by side
and emits per-group agreement — the PELT-equals-DP theorem as an
executable invariant (quadratic, so gate-scale series only).
tests/test_changepoint.py additionally pins exact recovery of
planted mean shifts and a numpy reference DP.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel


def pelt_segments_np(y: np.ndarray, beta: float) -> list[int]:
    """Changepoint positions (segment START indices, excluding 0) of the
    exact penalized optimum, by PELT. Driver/test-callable numpy core."""
    n = len(y)
    S1 = np.concatenate([[0.0], np.cumsum(y, dtype=np.float64)])
    S2 = np.concatenate([[0.0], np.cumsum(y * y, dtype=np.float64)])
    Fv = np.empty(n + 1)
    Fv[0] = -beta
    prev = np.full(n + 1, -1, dtype=np.int64)
    cand = np.array([0], dtype=np.int64)
    for t in range(1, n + 1):
        s = S1[t] - S1[cand]
        c = (S2[t] - S2[cand]) - s * s / (t - cand)
        vals = Fv[cand] + c + beta
        b = int(np.argmin(vals))  # ties -> lowest candidate index
        Fv[t] = vals[b]
        prev[t] = cand[b]
        # PELT prune: drop s where F[s] + C(s,t) > F[t] (can never win).
        # Relative float slack keeps marginal candidates — over-keeping
        # costs a few comparisons, over-pruning could break exactness.
        cand = cand[vals - beta <= Fv[t] + 1e-9 * (1.0 + abs(Fv[t]))]
        cand = np.append(cand, t)
    cps = []
    t = n
    while t > 0:
        s = int(prev[t])
        if s > 0:
            cps.append(s)
        t = s
    return cps[::-1]


def dp_segments_np(y: np.ndarray, beta: float) -> list[int]:
    """The unpruned O(n^2) exact DP — the verification twin."""
    n = len(y)
    S1 = np.concatenate([[0.0], np.cumsum(y, dtype=np.float64)])
    S2 = np.concatenate([[0.0], np.cumsum(y * y, dtype=np.float64)])
    Fv = np.empty(n + 1)
    Fv[0] = -beta
    prev = np.full(n + 1, -1, dtype=np.int64)
    for t in range(1, n + 1):
        s_idx = np.arange(t)
        s = S1[t] - S1[s_idx]
        c = (S2[t] - S2[s_idx]) - s * s / (t - s_idx)
        vals = Fv[s_idx] + c + beta
        b = int(np.argmin(vals))
        Fv[t] = vals[b]
        prev[t] = b
    cps = []
    t = n
    while t > 0:
        s = int(prev[t])
        if s > 0:
            cps.append(s)
        t = s
    return cps[::-1]


def pelt_changepoints(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    beta: float,
) -> DataFrame:
    """Exact penalized segmentation of column ``v`` per group: one output
    row per SEGMENT — ``(group_cols..., seg_idx, start_pos, end_pos,
    n_points, seg_mean, dp_equal_ok)`` where positions are 0-based ranks
    under ``order_col`` (must be unique per group), ``end_pos`` is
    exclusive and ``dp_equal_ok`` is the unpruned-DP agreement flag
    (quadratic — gate/test scale only)."""
    gtypes = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
    )
    schema = (
        f"{gtypes}, seg_idx int, start_pos int, end_pos int, "
        "n_points int, seg_mean double, dp_equal_ok boolean"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        if not pdf[order_col].is_unique:
            # r6 advisory fix: the documented must-be-unique precondition
            # now fails loudly — duplicate keys would make sort order
            # (and hence segmentation) partition-dependent silently
            raise ValueError(
                f"pelt_changepoints: duplicate {order_col!r} values in "
                "group — segmentation would be order-nondeterministic"
            )
        y = pdf["v"].to_numpy(dtype=np.float64)
        cps = pelt_segments_np(y, beta)
        bounds = [0] + cps + [len(y)]
        rows = []
        for i in range(len(bounds) - 1):
            a, b = bounds[i], bounds[i + 1]
            rows.append(
                [pdf[c].iloc[0] for c in group_cols]
                + [i, a, b, b - a, float(y[a:b].mean())]
            )
        out = pd.DataFrame(
            rows,
            columns=group_cols
            + ["seg_idx", "start_pos", "end_pos", "n_points", "seg_mean"],
        )
        out["dp_equal_ok"] = cps == dp_segments_np(y, beta)
        return out

    return df.select(*group_cols, order_col, "v").groupBy(
        *group_cols
    ).applyInPandas(worker_kernel(fit), schema=schema)
