"""The benchmark's workloads. Each one stores a seeded input, runs closed-loop
passes over it through the engine's public functions, re-runs the
idempotent ``refresh_tier`` that keeps that input current (``resume``), and
checks its outputs.

Every call into a layer goes through :meth:`Ctx.call`, which counts it as an
operation and, in a traced run, wraps it in a span named
``<layer>.<function>``. Sink writes are spans named ``<layer>.sink`` after
the layer whose plan they execute.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io import checkpoint, transcripts
from wavelet_decomposition_spark.kernel import wavelets as wl
from wavelet_decomposition_spark.kernel.lsqr import beta_decomposition
from wavelet_decomposition_spark.operators import (
    activity, compress, decompose, resample, rollup, series, wavelet_ops,
)

# float64 tolerances, fixed before any run
PARSEVAL_RTOL = 1e-9
BETA_ATOL = 1e-9
PREP_ATOL = 1e-12


class Ctx:
    """What a workload needs from the run: the session, the tracer, the core
    count and the operation/failure tally."""

    def __init__(self, tracer, nproc: int):
        self.tracer = tracer
        self.nproc = nproc
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def call(self, name: str, fn, *args, **kwargs):
        with self._lock:
            self.attempted += 1
        with self.tracer.span(name):
            return fn(*args, **kwargs)

    def sink(self, layer: str, df) -> None:
        self.call(f"{layer}.sink",
                  lambda: df.write.format("noop").mode("overwrite").save())

    def write(self, layer: str, df, path: str) -> None:
        self.call(f"{layer}.sink", df.write.mode("overwrite").parquet, path)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{name}: {detail}")

    def fail(self, name: str, detail: str) -> None:
        with self._lock:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _blob_bytes_per_point(blocks, value_cols) -> float:
    size = F.length("ts_blob")
    for c in value_cols:
        size = size + F.length(f"{c}_blob")
    row = blocks.agg(F.sum(size).alias("b"), F.sum("n_points").alias("n")).collect()[0]
    return row["b"] / row["n"]


class Workload:
    """Base: ``store_input`` (set-up), ``run_pass`` (timed), ``resume``
    (timed on its own), ``bytes_per_point`` (encodes the stored input with
    ``compress.encode_blocks`` into the last pass's directory; exact) and
    ``check_output`` (untimed, on the last pass's outputs)."""

    name = ""
    why = ""

    def __init__(self, ctx: Ctx, seed: int):
        self.ctx = ctx
        self.seed = seed
        self.input_rows = 0
        self.input_bytes = 0  # the table a pass reads
        self.source_bytes = 0  # the table resume's refresh_tier reads
        self.sizes: dict = {}

    @property
    def spark(self):
        return self.ctx.spark

    def store_input(self, path: str) -> None:
        raise NotImplementedError

    def run_pass(self, out: str) -> None:
        raise NotImplementedError

    def resume(self, out: str) -> tuple[int, int]:
        """(days rebuilt, days in input) of the idempotent re-run."""
        raise NotImplementedError

    def check_output(self, out: str) -> None:
        raise NotImplementedError

    def bytes_per_point(self, out: str) -> float:
        raise NotImplementedError


def _drop_day(day_slice):
    return day_slice.drop("day")


def _same_points(dec: pd.DataFrame, ref: pd.DataFrame, cols) -> bool:
    keys = ["conv_id", "bucket_ts"]
    dec = dec.sort_values(keys).reset_index(drop=True)
    ref = ref.sort_values(keys).reset_index(drop=True)
    if len(dec) != len(ref) or len(ref) == 0:
        return False
    if not (dec["conv_id"].to_numpy() == ref["conv_id"].to_numpy()).all():
        return False
    if not (dec["bucket_ts"].to_numpy() == ref["bucket_ts"].to_numpy()).all():
        return False
    return all(np.array_equal(dec[c].to_numpy(np.float64).view(np.int64),
                              ref[c].to_numpy(np.float64).view(np.int64))
               for c in cols)


WAVELET_PRODUCTS = [
    ("haar", "dwt", wavelet_ops.dwt_window_bands),
    ("haar", "dwt", wavelet_ops.energy_windows),
    ("db4", "dwt", wavelet_ops.dwt_window_bands),
    ("db4", "dwt", wavelet_ops.energy_windows),
    ("db4", "modwt", wavelet_ops.energy_windows),
]
WINDOW_LEN = 128
LEVELS = 5


def _product_kwargs(wavelet: str, transform: str) -> dict:
    kw = dict(wavelet=wavelet, levels=LEVELS, window_len=WINDOW_LEN,
              sparse_fill_step="1 minute")
    if transform != "dwt":
        kw["transform"] = transform
    return kw


class WaveletScan(Workload):
    """Set-up stores a seeded heavy-tailed transcript table and builds its
    1m tier with ``refresh_tier`` (the write path: text scan, rollup,
    per-day manifest writes). The conversation count is the smallest that
    reaches ``TARGET_TURNS`` turns for the seed, so every seed stores about
    the same number of rows. A pass re-reads the 1m tier for each of the
    five wavelet products."""

    name = "wavelet_scan"
    why = ("Python/Arrow boundary: haar and db4 DWT bands and energies plus "
           "db4 MODWT energies over the stored 1m tier, each to a noop sink")
    TARGET_TURNS = 40_000
    MEAN_TURNS = 40
    # a Pareto tail up to 2,000 turns (100x the median conversation). Up to
    # the generator's 20,000, one long conversation spans weeks: seed 1 at
    # 100,000 turns stored 26 days, and one input generation took 16-45 s
    MAX_TURNS = 2_000
    SPAN_SECONDS = 2 * 3600  # conversations start within two hours

    def store_input(self, path: str) -> None:
        lens = transcripts.conv_lengths(
            np.arange(100_000, dtype=np.int64), self.seed,
            self.MEAN_TURNS, self.MAX_TURNS)
        n_convs = int(np.searchsorted(np.cumsum(lens), self.TARGET_TURNS)) + 1
        self.n_convs = n_convs
        self.n_turns = int(lens[:n_convs].sum())
        self.tx_path = os.path.join(path, "transcripts")
        df = self.ctx.call(
            "input.transcripts_df", transcripts.transcripts_df, self.spark,
            n_convs, seed=self.seed, mean_turns=self.MEAN_TURNS,
            max_turns=self.MAX_TURNS, span_seconds=self.SPAN_SECONDS,
            partitions=self.ctx.nproc)
        self.ctx.call("input.sink", df.write.mode("overwrite").parquet, self.tx_path)
        self.store = os.path.join(path, "tiers")
        self._refresh_1m()
        manifest = checkpoint.read_manifest(self.store, "1m")
        self.input_rows = sum(r["n_rows"] for r in manifest.values())
        self.input_bytes = dir_bytes(os.path.join(self.store, "tier=1m"))
        self.source_bytes = dir_bytes(self.tx_path)
        self.sizes.update(conversations=n_convs, turns=self.n_turns,
                          transcript_bytes=self.source_bytes,
                          days=len(manifest), tier_1m_rows=self.input_rows,
                          tier_1m_bytes=self.input_bytes)

    def _refresh_1m(self) -> list[str]:
        c, spark = self.ctx, self.spark
        tx = spark.read.parquet(self.tx_path)
        raw = c.call("activity.activity_raw", activity.activity_raw, tx)
        m1 = c.call("rollup.rollup_once", rollup.rollup_once, raw, "1m")
        m1 = c.call("rollup.with_day", rollup.with_day, m1)
        return c.call("checkpoint.refresh_tier", checkpoint.refresh_tier,
                      spark, m1, _drop_day, self.store, "1m",
                      max_concurrency=c.nproc)

    def run_pass(self, out: str) -> None:
        c, spark = self.ctx, self.spark
        for wavelet, transform, fn in WAVELET_PRODUCTS:
            m = c.call("checkpoint.read_tier", checkpoint.read_tier, spark,
                       self.store, "1m")
            df = c.call(f"wavelet_ops.{fn.__name__}", fn, m, "turns",
                        **_product_kwargs(wavelet, transform))
            c.sink("wavelet_ops", df)

    def resume(self, out: str) -> tuple[int, int]:
        rebuilt = self._refresh_1m()
        return len(rebuilt), len(checkpoint.read_manifest(self.store, "1m"))

    def check_output(self, out: str) -> None:
        """Per-window Parseval on one seeded product (every product is
        covered across seeds): each window's band energies sum to the
        window's input energy (zero-filled grid, positions from the
        conversation's first minute)."""
        spark = self.spark
        m = checkpoint.read_tier(spark, self.store, "1m")
        turns = m.agg(F.sum("turns")).collect()[0][0]
        self.ctx.check("1m sum(turns) == turns generated", turns == self.n_turns,
                       f"{turns} != {self.n_turns}")
        first = F.min("bucket_ts").over(Window.partitionBy("conv_id"))
        pos = ((F.col("bucket_ts").cast("long") - first.cast("long")) / 60).cast("long")
        src = (m.withColumn("window_id", (pos / WINDOW_LEN).cast("int"))
               .groupBy("conv_id", "window_id")
               .agg(F.sum(F.col("turns").cast("double") ** 2).alias("e_in")))
        rng = np.random.default_rng(self.seed)
        wavelet, transform, fn = WAVELET_PRODUCTS[rng.integers(len(WAVELET_PRODUCTS))]
        df = fn(m, "turns", **_product_kwargs(wavelet, transform))
        if "energy" in df.columns:
            e = F.col("energy")
        else:
            e = F.aggregate("coefs", F.lit(0.0), lambda a, x: a + x * x)
        dst = df.groupBy("conv_id", "window_id").agg(F.sum(e).alias("e_out"))
        # a window absent on one side has energy 0 there (a zero-filled window)
        e_in, e_out = F.coalesce("e_in", F.lit(0.0)), F.coalesce("e_out", F.lit(0.0))
        bad = src.join(dst, ["conv_id", "window_id"], "full_outer").filter(
            F.abs(e_in - e_out) > F.lit(PARSEVAL_RTOL) * F.greatest(F.lit(1.0), e_in)
        ).count()
        self.ctx.check(f"per-window Parseval {wavelet}/{transform}/{fn.__name__}",
                       bad == 0, f"{bad} windows off")
        self._check_round_trip(out)

    def _check_round_trip(self, out: str) -> None:
        """Decoded blocks of seeded conversations equal their 1m rows."""
        spark, cols = self.spark, activity.ACTIVITY_COUNT_COLS
        rng = np.random.default_rng(self.seed)
        ids = rng.choice(self.n_convs, size=min(3, self.n_convs), replace=False)
        convs = [f"conv-{i:08d}" for i in sorted(ids)]
        blocks = spark.read.parquet(os.path.join(out, "blocks")).filter(
            F.col("conv_id").isin(convs))
        dec = compress.decode_blocks(blocks, cols).toPandas()
        ref = (checkpoint.read_tier(spark, self.store, "1m")
               .filter(F.col("conv_id").isin(convs))
               .select("conv_id", "bucket_ts", *cols).toPandas())
        self.ctx.check("decode(encode(1m)) round-trip is bit-exact",
                       _same_points(dec, ref, cols), f"convs {convs}")

    def bytes_per_point(self, out: str) -> float:
        c = self.ctx
        m = c.call("checkpoint.read_tier", checkpoint.read_tier, self.spark,
                   self.store, "1m")
        blocks = c.call("compress.encode_blocks", compress.encode_blocks, m,
                        activity.ACTIVITY_COUNT_COLS)
        c.write("compress", blocks, os.path.join(out, "blocks"))
        return _blob_bytes_per_point(
            self.spark.read.parquet(os.path.join(out, "blocks")),
            activity.ACTIVITY_COUNT_COLS)


# --- the paper's E1 solve --------------------------------------------------

LSQR_SERIES = [("load_a", "square"), ("load_b", "square"), ("pv", "sine")]
DPD_RAW = 48


def electricity_pandas(seed: int, years) -> pd.DataFrame:
    """Seeded half-hourly electricity-shaped series for whole calendar
    years: two loads (daily and weekly cycles over a seasonal level) and one
    PV-like daylight profile. Every value is positive, so yearly means
    normalize."""
    rng = np.random.default_rng(seed)
    frames = []
    for year in years:
        n_days = 366 if year % 4 == 0 else 365
        n = n_days * DPD_RAW
        t = np.arange(n) / DPD_RAW  # days since 1 Jan
        season = np.cos(2 * np.pi * t / n_days)
        for sid, _shape in LSQR_SERIES:
            if sid == "pv":
                day = np.clip(np.sin(np.pi * ((t % 1.0) - 0.25) / 0.5), 0.0, None)
                v = day * (0.7 - 0.3 * season) + 0.02 + 0.01 * rng.random(n)
            else:
                phase = rng.random()
                weekly = np.where((t.astype(int) % 7) >= 5, -0.15, 0.05)
                v = (2.0 + 0.4 * season + 0.5 * np.sin(2 * np.pi * (t - phase))
                     + weekly + 0.05 * rng.standard_normal(n))
            frames.append(pd.DataFrame({
                "series_id": sid, "year": np.int32(year),
                "idx": np.arange(n, dtype=np.int32),
                "ts": pd.Timestamp(f"{year}-01-01") + pd.to_timedelta(np.arange(n) * 30, unit="m"),
                "value": v.astype(np.float64),
            }))
    return pd.concat(frames, ignore_index=True)


class LsqrDecompose(Workload):
    name = "lsqr_decompose"
    why = ("the paper's E1: leap_trim -> normalize -> resample 48->64 -> damped "
           "LSQR decompose and reconstruct; few rows, ~2 s of CPU per group")
    # one leap year (leap_trim drops its 366th day): 3 groups, one wave on 4
    # cores; 3 years (9 groups, three waves) took 19-22 s a pass
    YEARS = (2016,)

    def store_input(self, path: str) -> None:
        c, spark = self.ctx, self.spark
        pdf = electricity_pandas(self.seed, self.YEARS)
        rng = np.random.default_rng(self.seed + 1)
        n = wl.DPY * wl.NDPD
        self.trans = {year: [int(rng.integers(0, wl.NDPD)),
                             int(rng.integers(0, 7 * wl.NDPD)), int(rng.integers(0, n))]
                      for year in self.YEARS}
        self.landing = os.path.join(path, "landing")
        self.store = os.path.join(path, "store")
        df = c.call("input.createDataFrame", spark.createDataFrame, pdf)
        c.call("input.sink", df.write.mode("overwrite").parquet, self.landing)
        c.call("checkpoint.refresh_tier", checkpoint.refresh_tier, spark,
               spark.read.parquet(self.landing), lambda s: s, self.store,
               "series", day_col="year", max_concurrency=c.nproc)
        self.input_rows = len(pdf)
        self.input_bytes = dir_bytes(os.path.join(self.store, "tier=series"))
        self.source_bytes = dir_bytes(self.landing)
        self.sizes.update(series=len(LSQR_SERIES), years=len(self.YEARS),
                          groups=len(LSQR_SERIES) * len(self.YEARS), rows=len(pdf),
                          stored_bytes=self.input_bytes)

    def run_pass(self, out: str) -> None:
        c, spark = self.ctx, self.spark
        df = c.call("checkpoint.read_tier", checkpoint.read_tier, spark,
                    self.store, "series").select("series_id", "year", "idx", "value")
        df = c.call("series.leap_trim", series.leap_trim, df, wl.DPY * DPD_RAW)
        df = c.call("series.normalize_yearly_mean", series.normalize_yearly_mean, df)
        df = c.call("resample.resample_per_year", resample.resample_per_year,
                    df, DPD_RAW, wl.NDPD)
        c.write("resample", df, os.path.join(out, "signal"))
        signal = spark.read.parquet(os.path.join(out, "signal"))
        bcs = {shape: c.call("decompose.broadcast_dictionaries",
                             decompose.broadcast_dictionaries, spark, shape,
                             self.trans)
               for shape in ("square", "sine")}
        try:
            betas = None
            for shape in bcs:
                ids = [s for s, sh in LSQR_SERIES if sh == shape]
                b = c.call("decompose.decompose", decompose.decompose,
                           signal.filter(F.col("series_id").isin(ids)), bcs[shape])
                betas = b if betas is None else betas.unionByName(b)
            c.write("decompose", betas, os.path.join(out, "betas"))
            stored = spark.read.parquet(os.path.join(out, "betas"))
            rec = None
            for shape in bcs:
                ids = [s for s, sh in LSQR_SERIES if sh == shape]
                r = c.call("decompose.reconstruct", decompose.reconstruct,
                           stored.filter(F.col("series_id").isin(ids)), bcs[shape])
                rec = r if rec is None else rec.unionByName(r)
            c.sink("decompose", rec)
        finally:
            for bc in bcs.values():
                bc.destroy()

    def resume(self, out: str) -> tuple[int, int]:
        spark = self.spark
        rebuilt = self.ctx.call(
            "checkpoint.refresh_tier", checkpoint.refresh_tier, spark,
            spark.read.parquet(self.landing), lambda s: s, self.store, "series",
            day_col="year", max_concurrency=self.ctx.nproc)
        return len(rebuilt), len(checkpoint.read_manifest(self.store, "series"))

    def check_output(self, out: str) -> None:
        """One seeded (series, year) group: the Spark prep chain matches
        numpy, and its betas match a driver-side solve of the same signal."""
        c, spark = self.ctx, self.spark
        rng = np.random.default_rng(self.seed)
        sid, shape = LSQR_SERIES[rng.integers(len(LSQR_SERIES))]
        year = self.YEARS[rng.integers(len(self.YEARS))]
        group = (F.col("series_id") == sid) & (F.col("year") == year)
        sig = (spark.read.parquet(os.path.join(out, "signal"))
               .filter(group).toPandas().sort_values("idx"))
        y = sig["value"].to_numpy(np.float64)
        raw = electricity_pandas(self.seed, self.YEARS)
        raw = raw[(raw.series_id == sid) & (raw.year == year)]
        raw = raw["value"].to_numpy(np.float64)[: wl.DPY * DPD_RAW]
        raw = raw / raw.mean()
        ref = np.interp(np.arange(0, wl.DPY, 1.0 / wl.NDPD),
                        np.arange(0, wl.DPY, 1.0 / DPD_RAW), raw)
        c.check(f"prep chain {sid}/{year} matches numpy",
                y.shape == ref.shape and float(np.max(np.abs(y - ref))) <= PREP_ATOL,
                f"max err {np.max(np.abs(y - ref)) if y.shape == ref.shape else y.shape}")
        A = wl.generate_dictionary(shape, self.trans[year])
        beta_ref = beta_decomposition(A, y)
        scale_idx, pos = wl.flat_to_scale_pos()
        want = pd.DataFrame({"scale_idx": scale_idx, "pos": pos, "ref": beta_ref})
        got = (spark.read.parquet(os.path.join(out, "betas"))
               .filter(group).toPandas())
        j = want.merge(got, on=["scale_idx", "pos"], how="outer")
        err = float(np.max(np.abs(j["beta"] - j["ref"]))) if len(j) == len(want) else np.inf
        c.check(f"betas {sid}/{year} match driver-side beta_decomposition",
                len(got) == len(want) and err <= BETA_ATOL, f"max err {err}")

    def bytes_per_point(self, out: str) -> float:
        c = self.ctx
        df = c.call("checkpoint.read_tier", checkpoint.read_tier, self.spark,
                    self.store, "series")
        blocks = c.call("compress.encode_blocks", compress.encode_blocks, df,
                        ["value"], group_col="series_id", ts_col="ts")
        c.write("compress", blocks, os.path.join(out, "blocks"))
        return _blob_bytes_per_point(
            self.spark.read.parquet(os.path.join(out, "blocks")), ["value"])


WORKLOADS = {w.name: w for w in (WaveletScan, LsqrDecompose)}
