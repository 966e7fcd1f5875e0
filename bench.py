"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line (kept under
1500 chars — the driver captures only the tail of stdout):

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {headline: sec, ...}, "n_queries_total": N, "sf": <sf>,
     "turns_per_sec": ..., "n_turns": ...}

The FULL record (every query's min-of-warm wall, the cold wall incl.
codegen/JIT, and every raw warm repeat) is written to ``bench_full.json``
next to this file and summarized in BENCH.md.

The flagship measurement is the north-star pipeline: synthetic transcripts
(scaled with sf) -> 1s activity tier -> 1m/1h/1d rollups -> gap-fill ->
Haar+db4 DWT energy spectra -> Gorilla/delta-of-delta block encode. Its
throughput is reported as turns/sec. Scaling-efficiency evidence (same job
at local[4] vs local[16], the N->4N pair inside this VM's physical-core
budget) lives in tools/scaling_bench.py -> BENCH.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def materialize_transcripts(spark, n_convs: int) -> str:
    """Generate + store the synthetic transcript table (untimed setup: the
    engine's contract input is a stored Iceberg/parquet table, not a
    generator)."""
    import tempfile

    from wavelet_decomposition_spark.io.transcripts import transcripts_df

    path = f"{tempfile.gettempdir()}/wds_bench_tx_{n_convs}"
    # fixed split count regardless of the generating session's core count,
    # so every parallelism level under test sees the same well-split scan;
    # grows with input so per-task generation stays bounded
    parts = max(64, n_convs // 15_000)
    transcripts_df(spark, n_convs, seed=42, partitions=parts).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def flagship_pipeline(spark, tx_path: str):
    """The rollup + wavelet + compression pipeline over the stored
    transcript table; returns n_turns.

    Plan shape (deliberate — see BENCH.md):
    - the wide text column is scanned ONCE: raw 1s tier -> 1m tier in a
      single lineage, and only the narrow 1m tier (no strings but conv_id)
      is cached for the 1h/1d cascade, the wavelet jobs, and the codec.
    - zero gap-fill is FUSED into the window builder
      (``sparse_fill_step``): the exploded per-minute grid (3-4x the tier's
      rows) is never materialized or shuffled. ``gapfill_zero/locf`` remain
      standalone operators for LOCF/gauge series.
    - energy spectra come from the in-UDF einsum path, not a second
      per-coefficient shuffle."""
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators import (
        activity,
        compress,
        rollup,
        wavelet_ops,
    )

    tx = spark.read.parquet(tx_path)
    raw = activity.activity_raw(tx)
    tier_1m = rollup.rollup_once(raw, "1m").cache()
    n_turns = tier_1m.agg(F.sum("turns")).collect()[0][0]
    tier_1h = rollup.rollup_once(tier_1m, "1h")
    _noop(tier_1h)
    _noop(rollup.rollup_once(tier_1h, "1d"))
    for wavelet in ("haar", "db4"):
        # both north-star products: the coefficient table (stored in the
        # band-packed array<double> form — the long per-coefficient view is
        # a JVM-side posexplode away) and the per-scale energy spectrum
        _noop(wavelet_ops.dwt_window_bands(
            tier_1m, "turns", wavelet=wavelet, levels=5, window_len=128,
            sparse_fill_step="1 minute",
        ))
        _noop(wavelet_ops.energy_windows(
            tier_1m, "turns", wavelet=wavelet, levels=5, window_len=128,
            sparse_fill_step="1 minute",
        ))
    blocks = compress.encode_blocks(tier_1m, activity.ACTIVITY_COUNT_COLS)
    _noop(blocks)
    tier_1m.unpersist()
    flagship_pipeline.last_n_turns = int(n_turns)
    return int(n_turns)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    from wavelet_decomposition_spark.plans.session import build_session

    spark = build_session(app_name="wds-bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    timings: dict[str, float] = {}

    # --- flagship: north-star rollup+wavelet throughput -------------------
    n_convs = max(200, int(200_000 * sf))
    tx_path = materialize_transcripts(spark, n_convs)  # untimed setup
    # untimed worker warm-up: spawning the Python-worker pool + importing
    # the package there costs tens of seconds once per session; a
    # long-running deployment pays it once, so the timings below measure
    # steady state (cold-start cost is reported by tools/scaling_bench.py)
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators import wavelet_ops as _w

    _noop(_w.energy_windows(
        spark.read.parquet(tx_path).limit(2000)
        .selectExpr("conv_id", "date_trunc('minute', ts) as bucket_ts")
        .groupBy("conv_id", "bucket_ts")
        .agg(F.count(F.lit(1)).cast("double").alias("turns")),
        "turns", wavelet="haar", levels=2, window_len=16,
        sparse_fill_step="1 minute",
    ))
    # Every measurement below: one cold run (includes per-query-shape
    # codegen + JIT — measured at 3-10s of pure compile time per novel plan
    # shape on this VM) then WARM_REPEATS warm runs. "queries"/"value"
    # carry the MIN of the warm repeats — this shared-host VM shows
    # episodic 2-4x slowdowns on memory-bound stages from invisible
    # neighbor interference (identical back-to-back jobs legitimately
    # differ 3x; BENCH.md documents an 86s-vs-52s identical-code pair), so
    # a single warm sample can enshrine a noisy window as the official
    # record (it did, in BENCH_r03). Min-of-N-warm is the same protocol
    # tools/scaling_bench.py already uses; every raw wall (cold + all warm
    # repeats) is published alongside in "queries_cold"/"queries_raw" so
    # nothing is hidden.
    # 3 warm repeats: this shared-host VM shows 2-4x identical-code
    # variance under neighbor load (a measured 69/29/20 s triple on the
    # flagship); min-of-3 warm suppresses a single noisy repeat where
    # min-of-2 cannot
    warm_repeats = int(os.environ.get("SPARK_GRAFT_WARM_REPEATS", "3"))
    cold: dict[str, float] = {}
    raw: dict[str, list[float]] = {}

    def run_timed(name, fn):
        t0 = time.time()
        fn()
        cold[name] = round(time.time() - t0, 3)
        walls = []
        for _ in range(warm_repeats):
            t0 = time.time()
            fn()
            walls.append(round(time.time() - t0, 3))
        raw[name] = walls
        timings[name] = min(walls)

    run_timed("flagship_rollup_wavelet", lambda: flagship_pipeline(spark, tx_path))
    flagship_sec = timings["flagship_rollup_wavelet"]
    n_turns = flagship_pipeline.last_n_turns

    # --- representative operator queries on the sf tables ------------------
    # the registry marks them (@query(bench=True)); they run in queries()
    # order
    for name, fn in entrymod.queries().items():
        if fn.bench:
            run_timed(name, lambda fn=fn: _noop(fn(spark, sf_dir)))

    total = round(sum(timings.values()), 3)
    # Full record (per-query min-of-warm, cold walls incl. codegen/JIT, and
    # every raw warm wall) goes to bench_full.json — it is ~10 KB and the
    # driver captures only the tail of stdout, so the LAST line must stay
    # compact (<1500 chars) or the driver's JSON parse fails (BENCH_r04
    # recorded "parsed": null for exactly this reason).
    full = {
        "metric": "rollup+wavelet pipeline + operator suite wall time "
                  "(min of warm repeats)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_raw": raw,
        "warm_repeats": warm_repeats,
        "sf": sf,
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / flagship_sec, 1),
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
    headline = [
        "flagship_rollup_wavelet", "full_decomposition", "translation_full",
        "activity_1m", "rollup_1h", "gapfill_locf", "minhash_pairs",
        "simhash_near", "dedup_clusters", "decontaminate", "ann_topk",
        "gorilla_blocks", "sessionize", "asof_join",
    ]
    summary = {
        "metric": "rollup+wavelet pipeline + operator suite wall time "
                  "(min of warm repeats; full per-query record incl. cold "
                  "and raw walls in bench_full.json)",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in headline if k in timings},
        "n_queries_total": len(timings),
        "warm_repeats": warm_repeats,
        "sf": sf,
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / flagship_sec, 1),
    }
    line = json.dumps(summary)
    assert len(line) < 1500, f"final bench line too long ({len(line)} chars)"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
