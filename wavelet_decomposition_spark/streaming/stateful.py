"""Custom stateful streaming operator: incremental gap-based sessionization
via ``applyInPandasWithState``.

This is the §2.7 "custom stateful operator" pattern the batch engine's
relational :func:`~..operators.sessions.sessionize` cannot express
incrementally: per-group state (the open session) lives in the streaming
state store, survives micro-batches AND query restarts through the
checkpoint, and closed sessions are emitted append-only as soon as a later
event proves the gap.

Semantics match the batch form exactly for every CLOSED session (asserted
by tests/test_sessions.py): each group's events are processed in event-time
order within a micro-batch; a session closes when a later event arrives
more than 30 minutes after it.

Late-data contract (guarded, not assumed): events are sorted within each
micro-batch, but an event that arrives in a LATER micro-batch with
``ts < last_us`` (strictly before the open session's newest event) is
DROPPED — emitted sessions are append-only and already-closed sessions can
never be reopened, so retro-patching state would corrupt rather than
repair. Without the guard a late batch would compute a negative gap (never
a session break) and then regress ``last_us``, silently extending or
splitting subsequent sessions. An event with ``ts == last_us`` (a DISTINCT
event sharing the open session's newest timestamp, straddling a
micro-batch boundary) is ACCEPTED and extends the session with gap 0 —
the batch form counts both, and dropping it undercounted ``n_events``
(round-3 advisory; the file source replays nothing under checkpointing,
so equality-with-last cannot be a duplicate delivery). Cross-micro-batch
late events instead take the engine's batch late-data route: deterministic
re-aggregation of the affected window from the raw tier
(io/checkpoint.refresh_tier), which is how the north rule handles lateness
everywhere else. ``last_us`` is also updated with ``max(last_us, ts[-1])``
as defense in depth.

One deliberate divergence from the batch form: null values count as
0.0 in ``total_value`` here (the state accumulator is a plain double), so a
session whose values are ALL null sums to 0.0 where the batch form's
``sum`` returns NULL. The currently-open tail session per group stays
in state until a future event closes it (drive a sentinel event through to
flush, or deploy with a timeout policy).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.session import worker_kernel
from . import parquet_source, start_drain


def _sorted_batch(pdfs: Iterator[pd.DataFrame], ts_col: str,
                  value_col: str):
    """One group's micro-batch frames as ``(ts, vals)`` in stable
    event-time order: ``ts`` in epoch micros, ``vals`` as float64."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    ts = batch[ts_col].to_numpy(dtype="datetime64[us]").view(np.int64)
    order = np.argsort(ts, kind="stable")
    return ts[order], batch[value_col].to_numpy(dtype=np.float64)[order]


def _drain_with_state(spark, schema, input_path, output_path,
                      checkpoint_path, key, fn, out_schema, state_schema):
    """File-source stream grouped on ``key`` through the stateful group
    function ``fn`` (append mode, no timeout) into the parquet drain."""
    out = parquet_source(spark, schema, input_path).groupBy(
        key
    ).applyInPandasWithState(
        worker_kernel(fn),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return start_drain(out, output_path, checkpoint_path)


OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
# open-session accumulator: (start_us, last_us, n_events, total_value)
STATE_SCHEMA = "start_us long, last_us long, n long, total double"


def _sessionize_group(gap_us: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ts, vals = _sorted_batch(pdfs, "ts", "value")
        if not len(ts):
            return
        vals = np.nan_to_num(vals, nan=0.0)

        if state.exists:
            start_us, last_us, n, total = state.get
            # drop cross-micro-batch late events (ts strictly before the
            # open session's newest event): emitted sessions are
            # append-only, so state can only move forward — see the module
            # docstring's late-data contract (batch re-aggregation is the
            # repair path). Equal timestamps are distinct events under the
            # exactly-once file source and are kept (gap-0 extension),
            # matching the batch form's count.
            keep = ts >= last_us
            if not keep.all():
                ts, vals = ts[keep], vals[keep]
                if not len(ts):
                    return
        else:
            start_us, last_us, n, total = ts[0], ts[0] - 1, 0, 0.0

        # boundaries BEFORE element i where the gap from the previous event
        # (including the carried-over open session's last event) exceeds gap
        prev = np.concatenate(([last_us], ts[:-1]))
        breaks = np.flatnonzero(ts - prev > gap_us)
        out_start, out_end, out_n, out_tot = [], [], [], []
        lo = 0
        for b in breaks:
            if b == 0 and n == 0:
                continue  # fresh state; first element starts the session
            seg_n = int(b - lo)
            seg_tot = float(vals[lo:b].sum())
            out_start.append(start_us)
            out_end.append(last_us if b == lo else int(ts[b - 1]))
            out_n.append(n + seg_n)
            out_tot.append(total + seg_tot)
            # next session starts at element b
            start_us, n, total = int(ts[b]), 0, 0.0
            lo = int(b)
        # fold the tail into the open session state
        tail_n = int(len(ts) - lo)
        state.update((
            int(start_us),
            int(max(last_us, ts[-1])),  # monotone even if the guard changes
            int(n + tail_n),
            float(total + vals[lo:].sum()),
        ))
        if out_start:
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(out_start), key[0], dtype=np.int64),
                    "session_start": pd.to_datetime(out_start, unit="us"),
                    "session_end": pd.to_datetime(out_end, unit="us"),
                    "n_events": np.asarray(out_n, dtype=np.int64),
                    "total_value": np.round(out_tot, 6),
                }
            )

    return fn


def stream_sessionize(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
):
    """File-source stream -> closed-session parquet sink (append mode),
    with a 30-minute session gap.

    Re-starting the drain on the same checkpoint resumes the state store,
    so open sessions keep accumulating across restarts.
    """
    gap_us = int(pd.Timedelta("30 minutes").total_seconds() * 1_000_000)
    return _drain_with_state(
        spark, schema, input_path, output_path, checkpoint_path, "user_id",
        _sessionize_group(gap_us), OUT_SCHEMA, STATE_SCHEMA,
    )


# --- streaming EWMA -------------------------------------------------------

EWMA_OUT_SCHEMA = (
    "series_id string, bucket_ts timestamp, v double, ewma double"
)
# (newest processed bucket, current smoothed value)
EWMA_STATE_SCHEMA = "last_us long, s double"


def _ewma_group(alpha: float):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ts, vals = _sorted_batch(pdfs, "bucket_ts", "v")
        if not len(ts):
            return

        if state.exists:
            last_us, s_prev = state.get
            # STRICT guard (unlike sessionize's >=): one grid bucket is one
            # recurrence step, so a replayed/equal bucket must not apply
            # the update twice
            keep = ts > last_us
            ts, vals = ts[keep], vals[keep]
            if not len(ts):
                return
            # continue the recurrence by seeding the vectorized pandas
            # kernel with the carried state as a synthetic row 0
            seeded = pd.Series(np.concatenate(([s_prev], vals)))
            s = (
                seeded.ewm(alpha=alpha, adjust=False).mean()
                .to_numpy()[1:]
            )
        else:
            s = (
                pd.Series(vals).ewm(alpha=alpha, adjust=False).mean()
                .to_numpy()
            )
        state.update((int(ts[-1]), float(s[-1])))
        yield pd.DataFrame(
            {
                "series_id": np.full(len(ts), key[0], dtype=object),
                "bucket_ts": pd.to_datetime(ts, unit="us"),
                "v": vals,
                "ewma": s,
            }
        )

    return fn


def stream_ewma(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
    alpha: float = 0.25,
):
    """File-source stream -> per-bucket EWMA parquet sink (append).

    The smoothed value for every bucket is emitted exactly once; the
    recurrence state (newest bucket, current s) survives micro-batches and
    restarts via the checkpoint, so draining input incrementally in any
    number of runs yields byte-identical output to the batch
    :func:`~..operators.tsfeatures.ewma` over the union of the input —
    the equivalence the driver's ``stream_ewma_drain`` invariant and
    tests/test_stream_ewma.py pin. Late (already-processed) buckets are
    dropped under the same append-only contract as sessionize; the batch
    re-aggregation tier is the repair path.
    """
    return _drain_with_state(
        spark, schema, input_path, output_path, checkpoint_path,
        "series_id", _ewma_group(alpha), EWMA_OUT_SCHEMA, EWMA_STATE_SCHEMA,
    )


RATE_OUT_SCHEMA = (
    "series_id string, ts timestamp, v double, inc double, is_reset int"
)
# carried recurrence state: (newest sample's epoch micros, its value)
RATE_STATE_SCHEMA = "last_us long, last_v double"


def _counter_rate_group():
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ts, vals = _sorted_batch(pdfs, "ts", "v")
        if not len(ts):
            return
        if state.exists:
            last_us, last_v = state.get
            # STRICT guard, same contract as stream_ewma: one sample is
            # one recurrence step — a replayed/equal timestamp must not
            # produce a second delta
            keep = ts > last_us
            ts, vals = ts[keep], vals[keep]
            if not len(ts):
                return
            prev = np.concatenate(([last_v], vals[:-1]))
        else:
            if len(ts) == 1:
                # the very first sample only seeds the state
                state.update((int(ts[0]), float(vals[0])))
                return
            prev = np.concatenate(([np.nan], vals[:-1]))
        reset = vals < prev
        inc = np.where(reset, vals, vals - prev)
        state.update((int(ts[-1]), float(vals[-1])))
        first_seed = np.isnan(prev[0])
        sl = slice(1, None) if first_seed else slice(None)
        if not len(ts[sl]):
            return
        yield pd.DataFrame(
            {
                "series_id": np.full(len(ts[sl]), key[0], dtype=object),
                "ts": pd.to_datetime(ts[sl], unit="us"),
                "v": vals[sl],
                "inc": inc[sl],
                "is_reset": reset[sl].astype(np.int32),
            }
        )

    return fn


def stream_counter_rate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
):
    """File-source stream -> per-sample counter deltas (append), the
    incremental form of the batch
    :func:`~..operators.temporal.counter_rate` BEFORE its bucket
    aggregate: each accepted sample beyond a group's first emits exactly
    one row carrying its increase (``v - prev`` or, across a restart
    detection, ``v``) and reset flag. The carried state is (newest
    sample's timestamp, its value), so draining input incrementally in
    any number of runs emits the identical delta set to a single batch
    pass over the union — the equivalence ``stream_counter_rate_drain``
    asserts after re-aggregating the emitted deltas per bucket. Late
    samples (ts <= state's newest) are dropped under the same append-only
    contract as the other stateful operators; the batch re-aggregation
    tier is the repair path."""
    return _drain_with_state(
        spark, schema, input_path, output_path, checkpoint_path,
        "series_id", _counter_rate_group(), RATE_OUT_SCHEMA,
        RATE_STATE_SCHEMA,
    )
