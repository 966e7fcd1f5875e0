"""Deduplication for training-data pipelines — exact, n-gram Jaccard,
MinHash+LSH, SimHash and edit-distance near-dup.

Design per scale tier:
- *exact*            — hash groupBy; one shuffle on the fingerprint.
- *n-gram Jaccard*   — exact pairwise similarity via shingle explode +
                       self-join; the verification oracle for MinHash. At
                       scale the join is bounded by LSH pre-bucketing.
- *MinHash + LSH*    — 64 permutations -> b bands x r rows; candidate pairs
                       only ever meet inside a band bucket (the 100 TB path:
                       the shuffle key is (band, band_hash), never all-pairs).
                       Signatures are array-expression built-ins — no Python.
- *SimHash*          — 64-bit sign fingerprint via vectorized numpy in
                       mapInPandas (bit-twiddling is not expressible as array
                       SQL without per-bit columns); near-dup = small hamming
                       distance, bucketed by 16-bit chunks (Charikar 2002).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import fingerprint, normalized
from ..plans.session import worker_kernel

# deterministic MinHash permutation parameters: universal hashing over the
# Mersenne prime 2^31 - 1 (31-bit hash space keeps a*h+b < 2^62, inside
# int64 under ANSI arithmetic; per-permutation collision prob ~ n/2^31 is
# negligible for shingle sets)
_MERSENNE = (1 << 31) - 1
_N_PERM = 64  # MinHash permutations (signature length)
_MAX_EDIT = 16  # edit_distance_pairs: largest edit distance reported
_BLOCK_PREFIX = 24  # edit_distance_pairs: normalized characters per block key


def _perm_params():
    rng = np.random.default_rng(42)
    a = rng.integers(1, _MERSENNE, size=_N_PERM, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=_N_PERM, dtype=np.int64)
    return a, b


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism floor for the CPU-bound shingle/hash stages.

    Small inputs often arrive as a handful of file splits (the sf fixtures
    are ONE split), which would run the 64-permutation explode+aggregate in
    a single task. The split estimate uses ``inputFiles()`` — a
    metadata-only listing, no RDD plan conversion: at real scale a 100-TB
    corpus has orders of magnitude more files than cores and this is a
    no-op; only under-split scans pay one repartition. A NON-file-backed
    input (createDataFrame, post-shuffle derivation) lists zero files; only
    on that branch is the RDD partition count consulted (one plan
    translation) so an already-well-partitioned input is respected rather
    than unconditionally reshuffled (round-3 advisory)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * 2
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits == 0:
        # not file-backed: fall back to the plan's actual partitioning
        try:
            n_splits = df.rdd.getNumPartitions()
        except Exception:
            n_splits = 0
    if n_splits >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the lowest-id representative per identical (normalized) text."""
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        df.withColumn("fp", fingerprint())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fp")
    )


def _gram_array() -> F.Column:
    """Distinct word 3-grams from the words column ``_w``, which the
    caller must materialize first.

    The lambdas must read a plain column reference, not the split expression:
    higher-order functions are interpreted (no common-subexpression
    elimination), so an inline ``split(normalized(text))`` would re-run the
    normalize+split over the whole document once per gram — O(len^2) per
    doc (measured: ~25% of the signature stage even on 50-word docs)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_w") - 3, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at("_w", (i + j + 1).cast("int")) for j in range(3)]),
    )
    return F.filter(F.array_distinct(grams), lambda g: F.length(g) > 0)


def shingled(df: DataFrame) -> DataFrame:
    """(id, sh array<string>) — per-doc distinct word 3-gram set, with
    the words array materialized first (see :func:`_gram_array`)."""
    return (
        _spread(df.select("doc_id", "text"))
        .withColumn("_w", F.split(normalized(), " "))
        .select(
            F.col("doc_id").alias("id"),
            _gram_array().alias("sh"),
        )
    )


def word_shingles(df: DataFrame) -> DataFrame:
    """Distinct word 3-gram shingles per doc: (id, shingle).

    The gram array is exploded INLINE rather than through a named column:
    ``explode(attribute)`` triggers Catalyst's InferFiltersFromGenerate,
    which rewrites ``size(sh) > 0`` with the alias substituted away — the
    words array collapses back to an inline ``split(normalized(text))``
    evaluated per lambda element inside the inferred filter, and that
    O(len^2)-per-doc predicate is pushed below the repartition into the
    scan task (measured: 4x the entire signature stage). Exploding the
    complex expression directly blocks the inference (the rule only fires
    on attribute children)."""
    base = _spread(df.select("doc_id", "text")).withColumn(
        "_w", F.split(normalized(), " ")
    )
    return base.select(
        F.col("doc_id").alias("id"),
        F.explode(_gram_array()).alias("shingle"),
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jaccard >= threshold) over
    word 3-gram shingles.

    The shingle self-join is quadratic in duplicates and skewed on common
    shingles — this is the VERIFICATION ORACLE for the bounded variant
    below, not the 100-TB path. Shingles are deliberately recomputed for the
    sizes branch rather than cached: caching a mid-operator RDD at scale
    pins executor memory, and the recompute is one projection."""
    sh = word_shingles(df)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _auto_banding(threshold: float, n_perm: int) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` with ``bands * rows == n_perm`` so the
    banded-LSH candidate recall AT the requested threshold stays high:
    ``recall(j) = 1 - (1 - j^r)^b``. A banding is only valid near its own
    operating point — 16x4 has ~0.9996 recall at j=0.8 but ~0.2% at j=0.1,
    so a fixed banding silently drops almost every low-threshold pair.
    Returns the largest ``rows_per_band`` (hardest candidate pruning, i.e.
    cheapest verification join) whose recall at ``threshold`` still meets
    0.95: 64x1 for t<=~0.17, 32x2 to ~0.45, 16x4 to ~0.72,
    8x8 to ~0.87 (n_perm=64)."""
    best = (n_perm, 1)
    for r in range(1, n_perm + 1):
        if n_perm % r:
            continue
        b = n_perm // r
        if 1.0 - (1.0 - threshold**r) ** b >= 0.95:
            best = (b, r)
    return best


def ngram_jaccard_pairs_bounded(
    df: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard computed ONLY on MinHash-LSH candidate pairs — the
    100-TB path. No shingle self-join ever happens: candidates come from
    banded LSH (shuffle key = (band, bucket)), then two bounded equi-joins
    attach each side's shingle set and the intersection runs JVM-side
    (``array_intersect``). Precision is exact; recall is the LSH band
    recall over 64 permutations, and the banding is derived from
    ``threshold`` (:func:`_auto_banding`) so the candidate filter's
    operating point always matches the requested threshold. Low thresholds
    get permissive bandings (more candidates): that cost is inherent to
    asking for low-similarity pairs, not a property of this
    implementation. The unbounded self-join above is the pytest oracle for
    this operator."""
    bands, rows_per_band = _auto_banding(threshold, _N_PERM)
    # materialize the signature table once (localCheckpoint spills
    # MEMORY_AND_DISK): the band join and any estimate pass would
    # otherwise each re-run the shingle explode + 64-min aggregate —
    # the dominant cost of the whole operator — per reference. This is
    # the production dedup shape anyway: signatures are written once,
    # then banded and verified from the stored table.
    sigs = minhash_signatures(df).localCheckpoint()
    cand = minhash_lsh_pairs(sigs, bands, rows_per_band)
    # verification sets are HASHED shingles (array<bigint>), not strings:
    # the set rides two exchanges into the verification join, and 8-byte
    # longs cut that shuffle's bytes ~3x vs ~15-byte string objects while
    # making array_intersect a primitive comparison (measured: the string
    # form was the memory-bandwidth-bound stage limiting N->4N scaling).
    # Jaccard over hashed sets equals string jaccard unless two distinct
    # shingles of the same document collide in 64-bit xxhash space
    # (~s^2/2^64 per doc, s ~ hundreds: negligible and deterministic);
    # equality vs the string-exact oracle is pinned in tests.
    sets = shingled(df).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    ).localCheckpoint()  # feeds BOTH verification sides — hash once
    a = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter / (F.size("sh_a") + F.size("sh_b") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(id, sig array<bigint>) — min over word 3-gram shingle hashes of
    (a*h+b) mod p, per permutation.

    Single-pass formulation: explode shingles once, then ONE hash aggregate
    with 64 ``min`` buffer columns per doc (the permutation arithmetic is a
    constant-folded pmod per column). Map-side partial aggregation reduces
    every input partition to <=64 longs per doc before the one shuffle on
    ``id``; no 64x row multiplication ever exists. (The rejected
    alternatives: 64 nested array_min(transform(...)) projections
    re-evaluate the shingle pipeline per permutation; a broadcast-join with
    a 64-row perm dim materializes 64x rows into the aggregate.)"""
    a, b = _perm_params()
    hashed = word_shingles(df).select(
        "id", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE)).alias("h")
    )
    aggs = [
        F.min(
            F.pmod(F.col("h") * int(a[i]) + int(b[i]), F.lit(_MERSENNE))
        ).alias(f"_m{i}")
        for i in range(_N_PERM)
    ]
    return (
        hashed.groupBy("id")
        .agg(*aggs)
        .select(
            "id", F.array(*[f"_m{i}" for i in range(_N_PERM)]).alias("sig")
        )
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate pairs from banded LSH over signatures: docs sharing any
    band bucket. Shuffle key = (band, band_hash): at scale no all-pairs join
    ever happens."""
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band).cast(
                                    "array<string>"
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for bnd in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature slots."""
    sa = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                        ),
                        lambda v: v == 1,
                    )
                )
                / F.size("sig_a")
            ).alias("jaccard_est"),
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document (Charikar 2002): sum token-hash bit
    vectors (+1/-1), take signs.

    Token hashing runs JVM-side (``split`` + ``transform(xxhash64)`` — whole
    batch, codegen'd); the Python stage only does the per-bit majority vote,
    vectorized numpy over Arrow ``array<bigint>`` batches. No per-token
    Python anywhere (round-1 ran a byte-at-a-time FNV loop here — the one
    violation of the no-per-row-Python contract, and 14.8 s at sf0.1)."""
    token_hashes = F.transform(
        F.split(normalized(), " "), lambda t: F.xxhash64(t)
    )
    hashed = _spread(df.select("doc_id", "text")).select(
        F.col("doc_id").alias("id"), token_hashes.alias("h")
    )

    def _majority(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        shifts = _np.arange(64, dtype=_np.uint64)

        empty = _np.empty(0, dtype=_np.int64)
        for pdf in batches:
            n = len(pdf)
            cells = [
                empty if v is None else _np.asarray(v, dtype=_np.int64)
                for v in pdf["h"]
            ]
            lens = _np.array([c.size for c in cells], dtype=_np.int64)
            ones = _np.zeros((n, 64), dtype=_np.int64)
            nz = _np.flatnonzero(lens)
            if nz.size:
                # non-empty docs only: keeps reduceat offsets strictly valid
                flat = _np.concatenate(cells).view(_np.uint64)
                lens_nz = lens[nz]
                starts = _np.concatenate(([0], _np.cumsum(lens_nz)[:-1]))
                ends = starts + lens_nz
                # token-chunked so the (tokens x 64) bit matrix stays small;
                # chunk boundaries land on doc boundaries (cumsum of lens)
                chunk = 1 << 20
                lo = 0
                while lo < nz.size:
                    hi = int(_np.searchsorted(ends, starts[lo] + chunk, "left"))
                    hi = min(max(hi, lo + 1), nz.size)
                    bits = (
                        (flat[starts[lo]:ends[hi - 1], None] >> shifts[None, :])
                        & _np.uint64(1)
                    ).astype(_np.int32)
                    # docs are contiguous in flat -> reduceat, not add.at
                    ones[nz[lo:hi]] = _np.add.reduceat(
                        bits, starts[lo:hi] - starts[lo], axis=0
                    )
                    lo = hi
            sh = (2 * ones > lens[:, None]).astype(_np.uint64)
            out = (sh << shifts[None, :]).sum(axis=1).astype(_np.int64)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "simhash": out})

    return hashed.mapInPandas(
        worker_kernel(_majority), schema="id long, simhash long"
    )


def simhash_near_pairs(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates: identical 16-bit chunk buckets (any of 4), then
    exact hamming filter via bit_count(xor)."""
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cb"),
    ).select("id", "simhash", "cb.chunk", "cb.bucket")
    a = chunks.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "bucket"
    )
    b = chunks.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "bucket"
    )
    return (
        a.join(b, ["chunk", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def edit_distance_pairs(docs: DataFrame) -> DataFrame:
    """Prefix-blocked exact edit-distance near-dup pairs:
    ``(id_a, id_b, dist, len_a, len_b)`` with ``id_a < id_b`` and
    ``levenshtein(normalized_a, normalized_b) <= _MAX_EDIT``. The
    edit-distance family complements the set-based detectors: Jaccard /
    MinHash see bags of shingles (insensitive to local ORDER damage),
    SimHash sees token frequencies; Levenshtein is the only one of the
    four that scores character-level ORDERED corruption — OCR noise,
    truncated tails, single-field template edits — which is exactly the
    perturbation profile of scraped near-dups.

    Candidate generation is PREFIX BLOCKING: only documents sharing
    their first ``_BLOCK_PREFIX`` normalized characters are compared (a
    hash equi-join, never all-pairs). That is a deliberate recall
    contract, not a shortcut: a pair differing inside the prefix has
    edit distance >= 1 *located at the head*, the rarest corruption
    site in practice (templates and OCR damage concentrate in bodies
    and tails); pairs that differ early are caught by the unordered
    detectors upstream. A length guard (|len_a - len_b| <= _MAX_EDIT,
    a lower bound on edit distance) prunes before the O(m*n) DP runs.

    Scale shape (100 TB): one exchange on the block key; per-block
    pair count is quadratic in BLOCK size only — prefix blocks over
    normalized text are near-singleton except for true near-dup
    families, and skewed blocks split under AQE. The DP itself is
    Spark's built-in ``levenshtein`` (JVM codegen, no Python).

    Cross-engine note: Spark's levenshtein counts CHARACTERS, DuckDB's
    counts BYTES — identical on ASCII (the gate corpus is verified
    ASCII-only); on non-ASCII corpora the oracle would need a
    byte-level cast.
    """
    norm = normalized()
    sides = docs.select(
        F.col("doc_id").alias("id"),
        norm.alias("t"),
        F.substring(norm, 1, _BLOCK_PREFIX).alias("blk"),
        F.length(norm).alias("len"),
    ).where(F.length("t") >= _BLOCK_PREFIX)
    a = sides.select(
        F.col("id").alias("id_a"), F.col("t").alias("t_a"),
        F.col("len").alias("len_a"), "blk",
    )
    b = sides.select(
        F.col("id").alias("id_b"), F.col("t").alias("t_b"),
        F.col("len").alias("len_b"), "blk",
    )
    return (
        a.join(b, "blk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= _MAX_EDIT)
        )
        .withColumn("dist", F.levenshtein("t_a", "t_b"))
        .where(F.col("dist") <= _MAX_EDIT)
        .select("id_a", "id_b", "dist", "len_a", "len_b")
    )
