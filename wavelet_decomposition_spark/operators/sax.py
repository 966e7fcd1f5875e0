"""PAA + SAX symbolic downsampling (Lin, Keogh, Lonardi, Chiu 2003).

The classic time-series indexing primitive the reference's wavelet
pipeline sits next to in the literature: Piecewise Aggregate
Approximation reduces each tumbling window to ``n_segments`` segment
means, and SAX maps the z-normalized segment means onto a small
alphabet via equiprobable N(0,1) breakpoints, producing one short
string ("word") per window. Words feed motif counting, anomaly
detection (rare words), and index keys — a discrete twin of the Haar
approximation tier (a PAA of frame size 2^l IS the scaled Haar
approximation at level l, which is why it lives beside wavelet_ops).

Scale design (100 TB): everything is pure JVM relational — one window
rank to position rows, one hash aggregate for per-series moments
(broadcast back), one hash aggregate per segment, one per window.
No Python stage, no collect. The shuffle key is the series/group key,
so a 1000-executor run distributes by series exactly like the rollup
cascade.

Cross-engine exactness: the value column must arrive as EXACT INTEGER
units (milli-units from ``floor``, never a rounded float — see
QUERIES.md). All sums are then exact BIGINTs; the only float ops are
divisions/multiplications of exact integers that both Spark and a SQL
oracle execute in the identical IEEE order, so the z-scores — and
therefore the discrete symbols — are bit-identical cross-engine. The
breakpoints are irrational N(0,1) quantiles, so a quotient of integers
never lands exactly on one (no tie ambiguity).

Reference parity note: the reference has no SAX (its dictionary is
continuous wavelets, wavelet_decomposition.py:42-88); this is part of
the §2.8 time-series-engine surface (axis B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Equiprobable N(0,1) breakpoints (norm.ppf(i/a)), Lin et al. 2003
# table; 17-significant-digit literals round-trip to the same double in
# every IEEE-754 engine.
BREAKPOINTS = {
    3: [-0.4307272992954576, 0.4307272992954576],
    4: [-0.6744897501960817, 0.0, 0.6744897501960817],
    5: [
        -0.8416212335729142,
        -0.2533471031357997,
        0.2533471031357997,
        0.8416212335729142,
    ],
    6: [
        -0.9674215661017014,
        -0.4307272992954576,
        0.0,
        0.4307272992954576,
        0.9674215661017014,
    ],
    8: [
        -1.1503493803760079,
        -0.6744897501960817,
        -0.3186393639643751,
        0.0,
        0.3186393639643751,
        0.6744897501960817,
        1.1503493803760079,
    ],
}

_ALPHABET = "abcdefghij"
_WINDOW_LEN = 64  # rows per tumbling window


def paa(series: DataFrame, n_segments: int) -> DataFrame:
    """Piecewise Aggregate Approximation of column ``vm`` over tumbling
    ``_WINDOW_LEN``-row windows.

    ``vm`` must be an exact-integer-unit column (BIGINT), and
    the input must have ONE row per (group, ts) — positions come from a
    rank over ``bucket_ts``, so duplicate timestamps would make window
    membership partitioning-order-dependent. Compose with the rollup /
    gapfill operators, which guarantee exactly that grid. Each complete
    window is cut into ``n_segments`` equal
    segments; each segment emits its mean as a double (exact integer
    sum / exact integer count — one IEEE division). Incomplete tail
    windows are dropped (their PAA would mix frame sizes).

    Output: group, window_id, seg_id, window_start, seg_mean, n_pts
    (rows = complete windows x n_segments).
    """
    if _WINDOW_LEN % n_segments:
        raise ValueError("the window length must be divisible by n_segments")
    seg_len = _WINDOW_LEN // n_segments
    pos = (
        F.row_number().over(
            Window.partitionBy("series_id").orderBy("bucket_ts")
        )
        - 1
    )
    segs = (
        series.select(
            "series_id",
            F.col("bucket_ts"),
            F.col("vm").alias("_v"),
            F.floor(pos / _WINDOW_LEN).cast("int").alias("window_id"),
            F.floor((pos % _WINDOW_LEN) / seg_len)
            .cast("int")
            .alias("seg_id"),
        )
        .groupBy("series_id", "window_id", "seg_id")
        .agg(
            F.sum("_v").alias("_s"),
            F.count(F.lit(1)).alias("_n"),
            F.min("bucket_ts").alias("_t0"),
        )
    )
    w = Window.partitionBy("series_id", "window_id")
    return (
        segs.withColumn("n_pts", F.sum("_n").over(w))
        .where(F.col("n_pts") == _WINDOW_LEN)
        .select(
            "series_id",
            "window_id",
            "seg_id",
            F.min("_t0")
            .over(Window.partitionBy("series_id", "window_id"))
            .alias("window_start"),
            (F.col("_s") / F.col("_n")).alias("seg_mean"),
            "n_pts",
        )
    )


def sax_rare_words(series: DataFrame, k: int = 1) -> DataFrame:
    """HOT-SAX-style anomaly candidates: the ``k`` windows per series
    whose 5-letter-alphabet SAX word (:func:`sax_words`) is rarest WITHIN
    that series (a window shaped unlike
    the series' recurring patterns gets a word nothing else uses —
    Keogh's discord heuristic, here as the exact rank rather than the
    search-order heuristic). Ties break on (freq, window_id), so the
    result is deterministic and fully oracle-checkable. One extra hash
    aggregate (word counts) + one window rank on top of
    :func:`sax_words`; the per-series word table is tiny (<= windows
    per series), so the count join broadcasts.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    words = sax_words(series, alphabet=5)
    freq = words.groupBy("series_id", "word").agg(
        F.count(F.lit(1)).alias("word_freq")
    )
    ranked = words.join(F.broadcast(freq), ["series_id", "word"]).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("series_id").orderBy(
                "word_freq", "window_id"
            )
        ),
    )
    return ranked.where(F.col("_rk") <= k).select(
        "series_id", "window_id", "window_start", "word", "word_freq"
    )


def sax_words(series: DataFrame, alphabet: int = 5) -> DataFrame:
    """SAX: z-normalize the 8 PAA segment means (:func:`paa`) of each
    window of column ``vm`` per series and discretize.

    Normalization uses the WHOLE series' moments (the streaming-index
    formulation): mu = S/n and sd = sqrt(max(SS/n - mu^2, 0)) from exact
    integer sums, computed once per series in one hash aggregate and
    broadcast back. A constant series (sd == 0) maps every segment to
    the middle letter rather than dividing by zero.

    Output: one row per complete window — group, window_id,
    window_start, word (8 letters), n_pts.
    """
    if alphabet not in BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(BREAKPOINTS)}")
    stats = series.groupBy("series_id").agg(
        F.sum("vm").alias("_gs"),
        F.sum(F.col("vm") * F.col("vm")).alias("_gss"),
        F.count(F.lit(1)).alias("_gn"),
    )
    p = paa(series, 8).join(
        F.broadcast(stats), "series_id"
    )
    mu = F.col("_gs") / F.col("_gn")
    var = F.greatest(
        F.col("_gss") / F.col("_gn") - mu * mu, F.lit(0.0)
    )
    sd = F.sqrt(var)
    z = F.when(sd == 0.0, F.lit(0.0)).otherwise(
        (F.col("seg_mean") - mu) / sd
    )
    cuts = BREAKPOINTS[alphabet]
    sym = F.when(z < F.lit(cuts[0]), F.lit(_ALPHABET[0]))
    for i, c in enumerate(cuts[1:], start=1):
        sym = sym.when(z < F.lit(c), F.lit(_ALPHABET[i]))
    sym = sym.otherwise(F.lit(_ALPHABET[len(cuts)]))
    return (
        p.withColumn("_sym", sym)
        .groupBy("series_id", "window_id")
        .agg(
            F.min("window_start").alias("window_start"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_id", "_sym"))
                    ),
                    lambda s: s["_sym"],
                ),
                "",
            ).alias("word"),
            F.min("n_pts").alias("n_pts"),
        )
    )
