"""The timing protocol and the summaries of the two harnesses, driver-only
(no Spark session): ``bench.timed``, the missing-reference skip of
``bench.time_all``, and ``tools/scaling_bench.py``'s per-point summary
keys and efficiency."""

import os
import sys
from types import SimpleNamespace

import pytest

import bench
from wavelet_decomposition_spark.io.reference_data import REFERENCE_ROOT

sys.path.insert(0, os.path.join(os.path.dirname(bench.__file__), "tools"))
import scaling_bench  # noqa: E402


def test_timed_runs_cold_plus_warm_and_keeps_min_of_warm(monkeypatch):
    # perf_counter pairs: cold 5 s, then warm 3 s, 2 s, 4 s
    clock = iter([0.0, 5.0, 10.0, 13.0, 20.0, 22.0, 30.0, 34.0])
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=clock.__next__))
    monkeypatch.setattr(bench, "WARM_REPEATS", 3)
    calls = []

    def fn():
        calls.append(1)
        return len(calls)

    run = bench.timed("q", fn)
    assert len(calls) == 1 + 3
    assert run == {"cold": 5.0, "raw": [3.0, 2.0, 4.0], "wall": 2.0, "out": 4}


def _missing(path):
    def fn():
        raise FileNotFoundError(2, "No such file or directory", path)

    return fn


def test_time_all_skips_missing_reference(monkeypatch):
    monkeypatch.setattr(bench, "WARM_REPEATS", 1)
    runs, skipped = bench.time_all({
        "a": lambda: 1,
        "golden": _missing(f"{REFERENCE_ROOT}/input_time_series.xlsx"),
        "b": lambda: 2,
    })
    assert list(runs) == ["a", "b"]
    assert skipped == ["golden"]
    assert runs["b"]["out"] == 2


@pytest.mark.parametrize(
    "path", ["/nonexistent/sf/lineitem.parquet", f"{REFERENCE_ROOT}_old/x.p"]
)
def test_time_all_reraises_other_missing_files(monkeypatch, path):
    monkeypatch.setattr(bench, "WARM_REPEATS", 1)
    with pytest.raises(FileNotFoundError):
        bench.time_all({"a": lambda: 1, "q": _missing(path)})


_COMMON_TAIL = [
    "speedup", "scaling_efficiency", "hardware_cpu_ceiling",
    "efficiency_vs_hardware_ceiling", "target",
]
# the summary keys of each point at local[4] -> local[16], as the
# per-point functions wrote them before the table
SUMMARY_KEYS = {
    "flagship": [
        "metric", "n_turns", "throughput_local4", "throughput_local16",
        "wall_local4_sec", "wall_local16_sec", "wall_cold_local4_sec",
        "wall_cold_local16_sec", "walls_all_local4_sec",
        "walls_all_local16_sec", *_COMMON_TAIL,
    ],
    "dedup": [
        "metric", "n_docs", "n_pairs", "throughput_local4_docs_per_sec",
        "throughput_local16_docs_per_sec", "wall_local4_sec",
        "wall_local16_sec", "walls_all_local4_sec", "walls_all_local16_sec",
        *_COMMON_TAIL,
    ],
    "relational": [
        "metric", "n_turns", "n_sessions",
        "throughput_local4_turns_per_sec", "throughput_local16_turns_per_sec",
        "wall_local4_sec", "wall_local16_sec", "walls_all_local4_sec",
        "walls_all_local16_sec", *_COMMON_TAIL,
    ],
    "gemm": [
        "metric", "n_vecs", "n_pairs",
        "throughput_local4_pair_dots_per_sec",
        "throughput_local16_pair_dots_per_sec", "wall_local4_sec",
        "wall_local16_sec", "walls_all_local4_sec", "walls_all_local16_sec",
        *_COMMON_TAIL,
    ],
}
HEADINGS = {
    "flagship": "# BENCH — scaling-efficiency evidence (north rule)\n",
    "dedup": "\n## Dedup scaling point (LLM-pipeline path)\n",
    "relational": "\n## Relational scaling point (pure-JVM path)\n",
    "gemm": "\n## GEMM scaling point (Arrow + numpy BLAS path)\n",
}


def _measurement(point, cores, wall):
    counts = {"n_turns": 1000, "n_docs": 100, "n_pairs": 40,
              "n_sessions": 70, "n_vecs": 50}
    return {
        "cores": cores, "wall_cold_sec": wall * 2, "wall_sec": wall,
        "walls_all_sec": [wall * 2, wall, wall],
        **{k: counts[k] for k in point.counts},
        f"{point.unit}_per_sec": round(1000 / wall, 1),
    }


@pytest.mark.parametrize("name", list(SUMMARY_KEYS))
def test_scaling_summary_keys_and_efficiency(name):
    point = scaling_bench.POINTS[name]
    lo, hi = _measurement(point, 4, 6.0), _measurement(point, 16, 2.0)
    summary = scaling_bench.summarize(point, lo, hi, ceiling=0.9)
    assert list(summary) == SUMMARY_KEYS[name]
    assert summary["scaling_efficiency"] == (6.0 / 2.0) / (16 / 4)
    assert summary["speedup"] == 3.0
    assert summary["wall_local16_sec"] == 2.0
    text = scaling_bench.section(point, lo, hi, 0.9, summary)
    assert text.startswith(HEADINGS[name])
    assert "**scaling efficiency: 0.750**" in text
    assert text.endswith("\n```\n")
