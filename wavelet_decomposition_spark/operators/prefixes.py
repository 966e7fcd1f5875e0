"""Shared-prefix detection over ordered sequences — the transcript-native
dedup axis the set-based family (minhash / simhash / n-gram Jaccard in
dedup.py) cannot express: those treat a document as a BAG, but agent
transcripts duplicate as PREFIXES — retried runs, branched conversations,
and shared system preambles produce many conversations whose first k
turns are byte-identical before they diverge. Training on them
over-weights the common prefix; curation wants the fork groups.

Mechanics: for each group (conversation, user, ...) take the first
``max(depths)`` elements in the stable order, fingerprint each requested
prefix depth as ``md5(concat_ws(0x1f, token_1..token_d))``, and group
equal fingerprints. md5-of-the-ordered-bytes makes the fingerprint
engine-portable (the events-table query is DuckDB-oracle-checked
end-to-end, hash strings included).

Scale shape (100 TB): the window row-number and the per-group aggregate
share the same partitioning key, so the whole fingerprint pass is ONE
exchange; the ``_rn <= max(depths)`` filter runs BEFORE the aggregate,
bounding every group's aggregation state at ``max(depths)`` rows no
matter how long the conversation is (a 20k-turn transcript contributes
8 rows, not 20k). Group formation is a second exchange on
(depth, prefix_hash) — the same bucketed-never-all-pairs discipline as
the LSH families. Fingerprints at depth d are only emitted for groups
with at least d elements (a shorter sequence HAS no depth-d prefix).

The reference has no sequence surface (per-series numeric scripts);
this extends the engine's LLM-pipeline inventory (SURVEY.md §2.8).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SEP = "\x1f"


def prefix_fingerprints(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    depths: Sequence[int] = (1, 2, 4, 8),
) -> DataFrame:
    """Per-group prefix fingerprints: ``(group_col, depth, prefix_hash)``
    — one row per requested depth per group whose sequence has at least
    that many elements. ``prefix_hash = md5(token_1 || 0x1f || ... ||
    token_d)`` under the total order ``order_col`` (which must be unique
    within a group — turn_idx / event_id are)."""
    depths = sorted(set(int(d) for d in depths))
    if not depths or depths[0] < 1:
        raise ValueError(f"depths must be positive: {depths}")
    w = Window.partitionBy(group_col).orderBy(order_col)
    head = (
        df.select(group_col, order_col, token_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= depths[-1])
    )
    seq = head.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(F.struct("_rn", F.col(token_col).alias("_t")))
        ).alias("_seq")
    )
    out = seq.select(
        group_col,
        F.explode(F.array(*[F.lit(d) for d in depths])).alias("depth"),
        "_seq",
    ).filter(F.size("_seq") >= F.col("depth"))
    tokens = F.transform(
        F.slice("_seq", F.lit(1), F.col("depth")), lambda s: s["_t"]
    )
    return out.select(
        group_col,
        "depth",
        F.md5(F.array_join(tokens, _SEP)).alias("prefix_hash"),
    )


def shared_prefix_groups(
    fingerprints: DataFrame,
    group_col: str,
    with_members: bool = False,
) -> DataFrame:
    """Collapse fingerprints into shared-prefix groups:
    ``(depth, prefix_hash, n_members[, members])`` keeping groups with at
    least 2 members. ``with_members`` adds the sorted member
    list — bounded by the fork-family size; leave it off when a single
    prefix can be shared by a non-bounded number of sequences (the
    count-only form is a pure hash aggregate)."""
    aggs = [F.count(F.lit(1)).alias("n_members")]
    if with_members:
        aggs.append(F.array_sort(F.collect_set(group_col)).alias("members"))
    return (
        fingerprints.groupBy("depth", "prefix_hash")
        .agg(*aggs)
        .filter(F.col("n_members") >= 2)
    )
