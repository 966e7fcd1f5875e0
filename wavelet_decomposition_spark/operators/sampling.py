"""Deterministic sampling, split assignment, and domain mixing — the
"compose the training set" operators that sit downstream of dedup /
decontamination / quality scoring in an LLM data pipeline. The reference
engine has no sampling surface; these are engine-native additions.

Everything here is a pure map-side column expression — ZERO shuffles for
sampling and split assignment, one small aggregate for mix rates, one
top-N for the vector operators' training sample — and deterministic by
construction: membership depends only on (key, seed),
never on partitioning, executor count, or row order. That is the property
``DataFrame.sample`` does NOT give you (it is per-partition pseudo-random:
recompute the input with different parallelism and the sample changes),
and why hash-gating is the standard at scale — reruns, backfills, and
incremental loads all select the same rows.

Two hash families:

- ``method="xxhash64"`` (default): Spark's built-in 64-bit hash; best
  dispersion, JVM-side, the production path.
- ``method="lcg"``: a 31-bit linear congruential step on the key —
  expressible in ANY SQL dialect with plain BIGINT arithmetic (the
  driver's DuckDB oracle runs the identical formula), and overflow-safe
  under ANSI mode because the key is reduced mod 2^31 before the
  multiply. Dispersion is weaker than xxhash64 but unbiased across a
  uniform key space; use it when the gate, not throughput, matters.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.textstats import token_count
from ..plans.session import worker_kernel

_LCG_A = 1103515245
_LCG_C = 12345
_MOD = 2_147_483_648  # 2^31


def hash_bucket(seed: int = 0, method: str = "xxhash64") -> Column:
    """Uniform double in [0, 1) as a pure function of (doc_id, seed)."""
    key = F.col("doc_id")
    if method == "xxhash64":
        h = F.xxhash64(key, F.lit(seed))
        return (F.pmod(h, F.lit(_MOD))) / F.lit(float(_MOD))
    if method == "lcg":
        k = F.pmod(key.cast("bigint") + F.lit(seed), F.lit(_MOD))
        return (
            F.pmod(k * F.lit(_LCG_A) + F.lit(_LCG_C), F.lit(_MOD))
            / F.lit(float(_MOD))
        )
    raise ValueError(f"unknown hash method {method!r}")


def vector_sample(corpus: DataFrame, n: int, seed: int) -> np.ndarray:
    """The float64 ``embedding`` matrix of the ``n`` rows with the smallest
    ``xxhash64(vec_id, seed)``, ties broken by ``vec_id`` — the bounded
    training sample the vector operators fit on the driver.

    The draw is pseudo-random and depends only on (vec_id, seed), never
    on file order or partitioning: a plain ``limit`` would train on the
    first file split's likely time/source-correlated vectors and silently
    degrade the fit on the rest of the corpus at scale.
    ``orderBy().limit()`` executes as a per-partition top-N and a driver
    merge of n rows, with no full sort shuffle, so the corpus itself is
    never collected."""
    pdf = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
        .limit(n)
        .select("embedding")
        .toPandas()
    )
    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


def weighted_sample(
    df: DataFrame,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES) on weight column ``w``: each row draws
    u = hash(doc_id, seed) in (0, 1) and the k largest u^(1/w) win —
    inclusion probability is proportional to weight in the without-replacement sense, and like
    everything in this module the draw depends only on (doc_id, seed), so
    reruns, backfills, and repartitioned inputs select the SAME rows.

    Implemented as the k largest ln(u)/w (monotone-equivalent, no
    pow underflow at large weights); ``orderBy(...).limit(k)`` compiles
    to TakeOrderedAndProject — per-partition top-k then a k-row merge,
    never a global sort, the 100-TB shape. Ties (possible only via
    hash collision) break on the key. Rows with weight <= 0 or NULL are
    never sampled (a zero-weight doc means "excluded", and A-ES is
    undefined there), and neither are NULL-keyed rows (every NULL key
    hashes to the SAME u, so they would share one draw instead of
    drawing independently) — count both upstream if they need auditing.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = hash_bucket(seed)
    es = F.log(F.greatest(u, F.lit(2.0**-53))) / F.col("w")
    return (
        df.where((F.col("w") > 0) & F.col("doc_id").isNotNull())
        .withColumn("_es_key", es)
        .orderBy(F.desc("_es_key"), "doc_id")
        .limit(k)
        .drop("_es_key")
    )


def assign_splits(
    df: DataFrame,
    weights: dict[str, float],
    seed: int = 0,
    method: str = "xxhash64",
) -> DataFrame:
    """Disjoint, exhaustive split labels (e.g. train/val/test 0.8/0.1/0.1)
    by hash-bucket thresholds on ``doc_id``. Weights must sum to 1 (±1e-9); every row
    gets exactly one label, and the assignment is stable under reruns,
    repartitioning, and incremental appends."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(seed, method)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        cond = b < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def domain_mix(
    docs: DataFrame,
    budget_tokens: int,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Per-source sampling rates that hit a token budget under target mix
    weights: rate(s) = min(1, budget * w(s) / tokens(s)). With
    ``weights=None`` the target mix is uniform over the observed sources.
    One small aggregate (n_sources rows); a caller applies the rates by
    gating each source's rows on :func:`hash_bucket` — still shuffle-free
    over the corpus.

    Undersupplied sources (rate capped at 1) deliver fewer tokens than
    their target share — ``expected_tokens`` makes the shortfall explicit
    rather than silently renormalizing."""
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count()).alias("n_tokens"),
    )
    if weights is None:
        w = 1.0 / F.count(F.lit(1)).over(Window.partitionBy())
    else:
        total = sum(weights.values())
        if abs(total - 1.0) > 1e-9:
            raise ValueError(f"mix weights must sum to 1, got {total}")
        mapping = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        w = mapping[F.col("source")]
    rate = F.least(
        F.lit(1.0), F.lit(float(budget_tokens)) * w / F.col("n_tokens")
    )
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w, 6).alias("target_weight"),
        F.round(rate, 6).alias("sample_rate"),
        F.round(rate * F.col("n_tokens"), 2).alias("expected_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = None,
    n_parts: int = 32,
) -> DataFrame:
    """Greedy sequence packing — assign each document to a fixed-token-
    budget training sequence (bin) so padding is minimized: the
    batch-composition step that follows chunking/sampling in an LLM
    pipeline. Returns one row per document: (id, n_tokens, bin_id) with
    ``bin_id`` globally unique and every bin's token sum <= budget.
    Documents longer than the budget are ASSIGNED ALONE to an oversize
    bin, never silently truncated or dropped (the caller chunks them
    first — ``textclean.chunk_documents``).

    Scale shape: packing is metadata-only — ONLY (id, n_tokens) rides
    through the packer (16 bytes/doc; the text never moves), hash-
    repartitioned into ``n_parts`` deterministic groups and packed
    per-group with first-fit-decreasing inside one Arrow kernel.
    Per-group FFD is the standard distributed compromise: bins never span
    groups, so the result is deterministic for fixed (input, n_parts)
    under ANY physical partitioning, and the waste vs global FFD is at
    most one partial bin per group (bounded by n_parts * budget tokens
    TOTAL — negligible against any real corpus). The per-doc Python loop
    is a documented cost: it touches two ints per doc (heap of bin
    remainders), ~10^6 docs/s/core; at larger per-group counts raise
    ``n_parts``.
    """
    spark = df.sparkSession
    toks = (
        F.col(token_col)
        if token_col
        else token_count()
    ).cast("int")
    meta = df.select(F.col("doc_id").alias("_id"), toks.alias("n_tokens"))

    def pack(batches):
        import heapq

        import numpy as np
        import pandas as pd

        ids, lens = [], []
        for b in batches:
            ids.append(b["_id"].to_numpy())
            lens.append(b["n_tokens"].to_numpy())
        if not ids:
            return
        ids = np.concatenate(ids)
        lens = np.concatenate(lens)
        order = np.lexsort((ids, -lens))  # length desc, id asc tie-break
        ids, lens = ids[order], lens[order]
        group = int(ids[0] % n_parts) if len(ids) else 0
        bins: list[int] = []  # bin -> remaining budget
        heap: list[tuple[int, int]] = []  # (-remaining, bin)
        out = np.empty(len(ids), dtype=np.int64)
        for i in range(len(ids)):
            need = int(lens[i])
            if heap and -heap[0][0] >= need:
                rem, b = heapq.heappop(heap)
                rem = -rem - need
                bins[b] = rem
                heapq.heappush(heap, (-rem, b))
                out[i] = b
            else:  # no bin fits (or doc oversize): open a new one
                b = len(bins)
                rem = max(budget - need, 0)
                bins.append(rem)
                heapq.heappush(heap, (-rem, b))
                out[i] = b
        yield pd.DataFrame(
            {
                "_id": ids,
                "n_tokens": lens,
                "bin_id": out * np.int64(n_parts) + np.int64(group),
            }
        )

    packed = (
        meta.repartition(n_parts, F.pmod(F.col("_id"), F.lit(n_parts)))
        .mapInPandas(
            worker_kernel(pack), "_id bigint, n_tokens int, bin_id bigint"
        )
    )
    return packed.select(
        F.col("_id").alias("doc_id"), "n_tokens", "bin_id"
    )
