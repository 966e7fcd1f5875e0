"""Deterministic synthetic transcript table — the engine's primary input
shape (BASELINE.json input_hint):

    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Design points (FIXTURES.md §1):
- *Distributed generation*: the generator is a ``mapInPandas`` over
  ``spark.range(n_convs)`` — each conversation's rows derive from
  splitmix-style integer hashing of (seed, conv, turn), so output is
  deterministic and independent of partitioning / cluster size. This is the
  scale path: at 10^12 turns nothing ever materializes on the driver.
- *Skew by design*: conversation lengths are heavy-tailed (power-law), so a
  few conversations are very long — exercising salting / AQE.
- *Bursty, out-of-order-across-conversations timestamps*: in-order within a
  conversation (turn_idx is the stable ordering key), interleaved across.
- *Content-addressable text*: bytes derive from hash(conv, turn), so the
  per-turn text-equality invariant is meaningful.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..plans.session import worker_kernel

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

_TOOLS = np.array(["search", "bash", "read_file", "write_file", "browser"])
_EPOCH_BASE = 1_700_000_000  # fixed epoch seconds origin (no wall clock)

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix(x: np.ndarray) -> np.ndarray:
    x = (x + _GOLDEN).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _M1
    x ^= x >> np.uint64(27)
    x *= _M2
    x ^= x >> np.uint64(31)
    return x


def _hash2(a: np.ndarray, b: np.ndarray, seed: int) -> np.ndarray:
    return _splitmix(
        a.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        ^ b.astype(np.uint64) * _M1
        ^ np.uint64(seed)
    )


def _unit(h: np.ndarray) -> np.ndarray:
    """uint64 hash -> uniform float64 in [0, 1)."""
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def conv_lengths(conv: np.ndarray, seed: int, mean_turns: int, max_turns: int) -> np.ndarray:
    """Heavy-tailed (bounded Pareto-ish) turn counts per conversation."""
    u = _unit(_hash2(conv, np.full(conv.size, 0xFFFF, dtype=np.uint64), seed))
    alpha = 1.3
    base = max(2.0, mean_turns / 3.2)
    length = base * np.power(1.0 - u, -1.0 / alpha)
    return np.clip(length, 2, max_turns).astype(np.int64)


def _turn_texts(cid: np.ndarray, tidx: np.ndarray, seed: int) -> np.ndarray:
    """Content-addressable turn text: a 16-char hash token of (conv, turn)
    repeated 1..120 times (lengths quantized to 17-char steps; heavy-tailed
    via u^3). Built as pandas object strings — np.char.multiply would
    allocate a fixed-width U(17*max_reps) array for EVERY row (gigabytes
    per task at high fan-out). Pure function of (cid, tidx, seed) — the
    property the fork planter and the text-equality invariant both key on.
    """
    h = _hash2(cid, tidx, seed)
    u_len = _unit(_splitmix(h + np.uint64(1)))
    reps = (1 + 120.0 * u_len * u_len * u_len).astype(np.int64)
    token = pd.Series(h).map("{:016x}".format)  # 16-char deterministic token
    return (token + " ").str.repeat(reps).str.rstrip().to_numpy(dtype=object)


def _gen_batch(conv: np.ndarray, seed: int, mean_turns: int, max_turns: int,
               span_seconds: int) -> pd.DataFrame:
    lens = conv_lengths(conv, seed, mean_turns, max_turns)
    total = int(lens.sum())
    cid = np.repeat(conv, lens)
    starts = np.zeros(conv.size, dtype=np.int64)
    starts[1:] = np.cumsum(lens)[:-1]
    tidx = (np.arange(total, dtype=np.int64) - np.repeat(starts, lens)).astype(np.int64)

    h = _hash2(cid, tidx, seed)
    u_gap = _unit(h)
    u_role = _unit(_splitmix(h))

    # bursty inter-turn gaps (micros): 70% 0.5-5 s, 25% 5-60 s, 5% 1-60 min
    gap = np.where(
        u_gap < 0.70,
        0.5e6 + u_gap / 0.70 * 4.5e6,
        np.where(
            u_gap < 0.95,
            5e6 + (u_gap - 0.70) / 0.25 * 55e6,
            60e6 + (u_gap - 0.95) / 0.05 * 3540e6,
        ),
    ).astype(np.int64)
    gap[tidx == 0] = 0
    # segmented cumsum: running timestamp within each conversation
    g = np.cumsum(gap)
    seg_base = np.repeat(g[starts] - gap[starts], lens)
    offset = g - seg_base
    conv_start = (
        _EPOCH_BASE * 1_000_000
        + (_unit(_hash2(conv, np.full(conv.size, 0xAAAA, dtype=np.uint64), seed))
           * span_seconds * 1e6).astype(np.int64)
    )
    ts_us = np.repeat(conv_start, lens) + offset

    role = np.where(tidx % 2 == 0, "user", "assistant")
    is_tool = (role == "assistant") & (u_role < 0.25)
    tool = np.where(
        is_tool, _TOOLS[(h % np.uint64(_TOOLS.size)).astype(np.int64)], None
    )

    text = _turn_texts(cid, tidx, seed)

    return pd.DataFrame(
        {
            "conv_id": pd.Series(cid).map("conv-{:08d}".format).to_numpy(
                dtype=object
            ),
            "turn_idx": tidx.astype(np.int32),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": pd.to_datetime(ts_us, unit="us"),
        }
    )


def fork_metadata(
    n_convs: int,
    n_forks: int,
    seed: int = 42,
    mean_turns: int = 40,
    max_turns: int = 20_000,
) -> pd.DataFrame:
    """Closed-form fork plan for :func:`transcripts_df` — one row per
    fork: ``(fork_id, parent_id, fork_depth)``. Pure integer-hash
    arithmetic (no data access), so the invariant side of the driver
    query can recompute EXACTLY what the distributed generator planted."""
    j = np.arange(n_forks, dtype=np.int64)
    fid = n_convs + j
    parent = (
        _hash2(j, np.full(j.size, 0xF0F0, dtype=np.uint64), seed)
        % np.uint64(n_convs)
    ).astype(np.int64)
    k_raw = 2 + (
        _hash2(j, np.full(j.size, 0xF1F1, dtype=np.uint64), seed)
        % np.uint64(5)
    ).astype(np.int64)
    own_len = conv_lengths(fid, seed, mean_turns, max_turns)
    parent_len = conv_lengths(parent, seed, mean_turns, max_turns)
    return pd.DataFrame(
        {
            "fork_id": fid,
            "parent_id": parent,
            "fork_depth": np.minimum(np.minimum(k_raw, own_len), parent_len),
        }
    )


def _apply_forks(pdf: pd.DataFrame, n_convs: int,
                 parent_of: np.ndarray, depth_of: np.ndarray,
                 seed: int) -> pd.DataFrame:
    """Overwrite the first ``fork_depth`` turn texts of every fork row
    with the PARENT conversation's texts for those turns — a pure
    per-row recomputation via the content-addressable ``_turn_texts``
    (no join, no cross-conversation communication: the fork planter is
    as embarrassingly parallel as the base generator). ``parent_of`` /
    ``depth_of`` are the :func:`fork_metadata` arrays, computed ONCE per
    task by the caller (r6 advisory fix: the full hash-arithmetic plan
    was previously rebuilt for every 4096-conversation chunk, forks
    present or not). An empty plan returns ``pdf`` untouched."""
    if not depth_of.size:
        return pdf
    ids = pdf["conv_id"].str[5:].astype(np.int64).to_numpy()
    m = ids >= n_convs
    if not m.any():
        return pdf
    j = ids[m] - n_convs
    tidx = pdf["turn_idx"].to_numpy()[m].astype(np.int64)
    in_prefix = tidx < depth_of[j]
    rows = np.flatnonzero(m)[in_prefix]
    if rows.size:
        pdf = pdf.copy()
        pdf.loc[
            pdf.index[rows], "text"
        ] = _turn_texts(parent_of[j[in_prefix]], tidx[in_prefix], seed)
    return pdf


def transcripts_df(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    mean_turns: int = 40,
    max_turns: int = 20_000,
    span_seconds: int = 7 * 86400,
    partitions: int | None = None,
    n_forks: int = 0,
) -> DataFrame:
    """Distributed deterministic transcript generator: ``n_convs`` base
    conversations plus ``n_forks`` PLANTED FORKS, extra conversations whose
    first ``fork_depth`` turns are byte-identical to a hash-chosen parent's
    before diverging — the retried-run / branched-conversation /
    shared-system-preamble shape that prefix dedup (operators/prefixes.py)
    exists to find. ``fork_depth`` = min(2 + hash%5, own length, parent
    length), so a fork NEVER copies past its parent (two forks of one
    parent sharing depth d therefore implies the parent itself reaches
    depth d). Forks recompute the parent's content-addressable texts (no
    join), so generation stays per-conversation independent."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # yield in bounded conv chunks: one partition can carry tens of
        # thousands of conv ids, and a single ~50x-larger output frame per
        # partition held 32 workers x O(GB) at once (observed global OOM at
        # 3M convs / 64 partitions)
        chunk = 4096
        # fork plan computed once per task, reused by every chunk
        meta = fork_metadata(n_convs, n_forks, seed, mean_turns, max_turns)
        parent_of = meta["parent_id"].to_numpy()
        depth_of = meta["fork_depth"].to_numpy()
        for pdf in batches:
            conv = pdf["id"].to_numpy(dtype=np.int64)
            for lo in range(0, conv.size, chunk):
                out = _gen_batch(
                    conv[lo:lo + chunk], seed, mean_turns, max_turns,
                    span_seconds,
                )
                yield _apply_forks(out, n_convs, parent_of, depth_of, seed)

    return (
        spark.range(0, n_convs + n_forks, numPartitions=partitions)
        .mapInPandas(worker_kernel(gen), schema=TRANSCRIPT_SCHEMA)
    )


def transcripts_pandas(n_convs: int, seed: int = 42, **kw) -> pd.DataFrame:
    """Driver-side variant for tiny fixtures / oracle comparisons."""
    return _gen_batch(
        np.arange(n_convs, dtype=np.int64),
        seed,
        kw.get("mean_turns", 40),
        kw.get("max_turns", 20_000),
        kw.get("span_seconds", 7 * 86400),
    )
