"""wavelet_decomposition_spark — a from-scratch PySpark-native time-series engine.

Re-expresses the capabilities of the reference repo (jus6du/wavelet_decomposition,
a single-node numpy/scipy wavelet-decomposition pipeline for electricity time
series) as an idiomatic Spark DataFrame engine, and extends it with the
rollup/downsample/retention, compression, and transcript-analytics operators
required by the project north star.

Layout
------
kernel/     pure-numpy numeric kernels (no Spark): LSQR, the wavelet
            dictionary operator, DWT/MODWT, Gorilla & delta-of-delta codecs,
            EPN analytics, the stdlib xlsx reader.
io/         table layer: synthetic transcript generator, checkpoint manifest,
            reference golden-data loaders.
operators/  Spark DataFrame operators (ingest, resample, decompose, activity
            series, rollup tiers, gap-fill, dedup, similarity, text stats).
plans/      SparkSession builders with scale-oriented configs.
streaming/  Structured Streaming facade over the 1m tier.
"""

__version__ = "0.1.0"
