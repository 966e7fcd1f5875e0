"""PageRank power iteration — graph centrality over relational edges.

The graph twin of operators/components.py (same iterative discipline:
``localCheckpoint`` lineage truncation per round, convergence decided
by a bounded scalar aggregate, never a collected edge list). Used here
to rank suppliers by order-flow mass on the customer->supplier graph,
but the operator is graph-agnostic.

Semantics (the classic Brin-Page formulation with dangling-mass
redistribution): r'(v) = (1-d)/N + d * (sum over in-nbrs u of
r(u)/outdeg(u) + dangling_mass/N), where dangling_mass is the total
rank sitting on nodes with no out-edges. Redistributing it uniformly
keeps total mass EXACTLY 1 (up to float roundoff), which the driver
query asserts per run.

Scale design (100 TB): per iteration — one broadcast-free equi-join of
the rank vector to the edge list on ``src`` and one hash aggregate on
``dst``. Edges are deduplicated, pre-projected, HASH-PARTITIONED ON
``src``, and checkpointed ONCE — ``localCheckpoint`` preserves the
physical output partitioning in the ``LogicalRDD``, so every
iteration's contribution join shuffles ONLY the (tiny) rank vector to
match the (huge) stationary edge partitioning, never the edges
themselves. The rank vector is the only thing that moves between
rounds. Dangling mass and the L1 convergence delta are computed in ONE
fused single-row aggregate over the just-checkpointed rank frame
(bounded scalar collect, the components.py contract) — two Spark jobs
per iteration total (materialize + fused scalars), not three. No
Python stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import release_checkpoint


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-8,
) -> DataFrame:
    """Rank every node appearing in ``edges`` (either side).

    Returns (node, rank, outdeg, n_iter, delta_l1): ``n_iter`` is the
    number of power iterations run, ``delta_l1`` the final iteration's
    L1 rank change (converged when <= tol; identical on every row —
    they are run-level facts riding the output for invariant gating).
    Duplicate (src, dst) rows collapse to one edge.
    """
    e0 = (
        edges.select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
        )
        # a NULL endpoint is not a node: the contribution join would
        # silently drop the edge while the node set kept a NULL row
        # whose rank never receives mass — drop the edge up front
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    m = e0.count()
    # SIZE-DERIVED stationary partitioning (guide: make partitioning
    # scale-adaptive, not a constant tuned to one deployment): ~2M
    # 16-byte edge rows (~32 MB) per partition, so a 10-edge planted
    # star runs 1-task iteration stages instead of
    # spark.sql.shuffle.partitions of them (the fixed-count explicit
    # repartition is exempt from AQE coalescing, so a constant here
    # pinned EVERY iteration's join to 64 tasks regardless of data),
    # while a 100 TB edge list still fans out to tens of thousands
    n_part = max(1, -(-m // 2_000_000))
    # explicit partition count pins the edge-side HashPartitioning so
    # AQE cannot re-coalesce it; the per-iteration join then shuffles
    # only the rank side (and only to match this stationary layout)
    e = e0.repartition(n_part, "src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0.0).alias("rank"),
            F.lit(0).alias("outdeg"),
            F.lit(0).alias("n_iter"),
            F.lit(0.0).alias("delta_l1"),
        )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # lazy checkpoints throughout the iteration: the fused scalar
    # aggregate that follows each rank frame is the action that
    # materializes it, so every iteration costs ONE Spark job
    # (materialize-and-reduce) instead of two (eager checkpoint, then
    # reduce) — the scalar pass was already reading the frame anyway
    ranks = (
        nodes.join(outdeg, "node", "left")
        .select(
            "node",
            F.lit(1.0 / n).alias("rank"),
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
        )
        .localCheckpoint(eager=False)
    )
    base = (1.0 - damping) / n
    # fused scalar pass: dangling mass for the NEXT iteration and the
    # L1 delta of the one just taken come out of one collect over the
    # just-checkpointed frame (the delta column is absent on the
    # initial frame, so seed it with infinity)
    dangling = ranks.where(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m")
    ).collect()[0]["m"]
    # SIZE-GATED broadcast of the rank vector (guide §3.1 — broadcast
    # the side that fits): the per-iteration join only needs 16 bytes
    # per node on the rank side, so up to a few million nodes the rank
    # vector is broadcast both ways (edge side and contribution side
    # never shuffle AT ALL — the iteration is one map-side pass plus
    # one small aggregate exchange); beyond that the stationary-
    # partitioning path below is unchanged. Data-size-derived, not a
    # core-count constant: a 10^9-node graph takes the shuffle path on
    # any deployment.
    bcast = n * 24 < (64 << 20)
    n_iter, delta = 0, float("inf")
    for n_iter in range(1, max_iter + 1):
        rk = ranks.select(
            F.col("node").alias("src"),
            # dangling rows never match an edge, but guard the
            # division anyway: ANSI mode errors if Catalyst
            # evaluates the projection before the join filter
            F.when(
                F.col("outdeg") > 0,
                F.col("rank") / F.col("outdeg"),
            )
            .otherwise(F.lit(0.0))
            .alias("_c"),
        )
        contrib = (
            e.join(F.broadcast(rk) if bcast else rk, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("_c").alias("_in"))
        )
        new = (
            ranks.join(
                F.broadcast(contrib) if bcast else contrib, "node", "left"
            )
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce("_in", F.lit(0.0))
                        + F.lit(dangling / n)
                    )
                ).alias("rank"),
                "outdeg",
                F.col("rank").alias("_prev"),
            )
            .localCheckpoint(eager=False)
        )
        scalars = new.agg(
            F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("d"),
            F.coalesce(
                F.sum(F.when(F.col("outdeg") == 0, F.col("rank"))),
                F.lit(0.0),
            ).alias("m"),
        ).collect()[0]
        delta, dangling = scalars["d"], scalars["m"]
        # the collect materialized this round: the one it read is done
        release_checkpoint(ranks)
        ranks = new.drop("_prev")
        if delta <= tol:
            break
    return ranks.select(
        "node",
        "rank",
        "outdeg",
        F.lit(n_iter).alias("n_iter"),
        F.lit(delta).alias("delta_l1"),
    )
