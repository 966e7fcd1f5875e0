"""MERGE INTO semantics as a pure relational operator — the lakehouse
upsert primitive (Delta/Iceberg MERGE, SQL:2003 MERGE) the tier rebuild
and backfill paths compose with operators/scd.py (versioned history)
and the snapshot-diff reconciliation query.

One FULL OUTER join on the key classifies every row:

- matched, source delete flag set      -> row dropped
- matched, no delete flag              -> source payload wins (update)
- source-only, no delete flag          -> insert
- source-only, delete flag set        -> no-op (delete of absent row)
- target-only                          -> kept unchanged

Scale shape: ONE shuffle on the merge key for both sides, no window
functions, no Python; the classification is a projection over the
joined row. This is exactly how Delta's MERGE plans the non-file-
pruned case; at 100 TB the win comes from partition/file pruning on
the target BEFORE the join (compose with operators/layout.py — a
z-ordered or range-clustered target turns the full-outer into a
touched-files-only join).

Keys must be non-null on both sides: SQL equi-joins never match NULL
keys, so a NULL-keyed source row would silently become an insert and a
NULL-keyed target row would always survive — the operator raises if it
finds any instead (the ADVICE null-join lesson, enforced not
documented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Merge ``source`` into ``target`` on ``keys``.

    ``source`` must carry the same payload columns as ``target`` (plus
    optionally a boolean ``delete_col``). Returns the merged table with
    an ``action`` column in {'keep', 'update', 'insert'} — deleted rows
    are gone, which is the point. Payload of an 'update' row is the
    source's, including NULLs (MERGE overwrites, it does not coalesce).
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    payload = [c for c in target.columns if c not in keys]
    want = set(keys) | set(payload)
    have = set(source.columns) - ({delete_col} if delete_col else set())
    if want - have:
        raise ValueError(f"source is missing columns: {sorted(want - have)}")
    def guarded_key(df: DataFrame, k: str, side: str):
        # inline enforcement — no extra scan: the key expression itself
        # raises on the first NULL it evaluates (raise_error fires
        # before the type-reconciling cast could)
        ktype = dict(df.dtypes)[k]
        return (
            F.when(
                F.col(k).isNull(),
                F.raise_error(
                    F.lit(
                        f"merge_upsert: NULL {side} key {k!r}; equi-"
                        "joins never match NULLs — fill or drop first"
                    )
                ).cast(ktype),
            )
            .otherwise(F.col(k))
            .alias(k)
        )

    t = target.select(
        *[guarded_key(target, k, "target") for k in keys],
        *[F.col(c).alias(f"_t_{c}") for c in payload],
        F.lit(True).alias("_in_t"),
    )
    s = source.select(
        *[guarded_key(source, k, "source") for k in keys],
        *[F.col(c).alias(f"_s_{c}") for c in payload],
        (
            F.coalesce(F.col(delete_col), F.lit(False))
            if delete_col
            else F.lit(False)
        ).alias("_del"),
        F.lit(True).alias("_in_s"),
    )
    j = t.join(s, keys, "full_outer")
    in_t = F.col("_in_t").isNotNull()
    in_s = F.col("_in_s").isNotNull()
    action = (
        F.when(in_t & in_s & F.col("_del"), F.lit(None))  # delete
        .when(in_t & in_s, F.lit("update"))
        .when(in_s & ~F.col("_del"), F.lit("insert"))
        .when(in_s, F.lit(None))  # delete of absent row: no-op
        .otherwise(F.lit("keep"))
    )
    out_payload = [
        F.when(F.col("action") == "keep", F.col(f"_t_{c}"))
        .otherwise(F.col(f"_s_{c}"))
        .alias(c)
        for c in payload
    ]
    return (
        j.withColumn("action", action)
        .where(F.col("action").isNotNull())
        .select(*keys, *out_payload, "action")
    )
