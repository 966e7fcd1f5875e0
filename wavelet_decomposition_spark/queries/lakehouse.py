"""Lakehouse queries: routed tier reads, SCD2 history,
compaction, checkpointed tier refresh and retention, profiling,
layouts, merges, integrity checks, sampling and sketch tiers.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io import checkpoint as ckpt
from wavelet_decomposition_spark.operators import rollup
from wavelet_decomposition_spark.operators.compact import compact_partitioned
from wavelet_decomposition_spark.operators.expect import (
    check_expectations,
    check_foreign_keys,
)
from wavelet_decomposition_spark.operators.layout import (
    layout_stats,
    pruning_factor,
    write_clustered,
    write_zorder,
    zvalue,
)
from wavelet_decomposition_spark.operators.merge import merge_upsert
from wavelet_decomposition_spark.operators.profile import profile_columns
from wavelet_decomposition_spark.operators.router import (
    choose_tier,
    read_tier_range,
)
from wavelet_decomposition_spark.operators.sampling import weighted_sample
from wavelet_decomposition_spark.operators.scd import changes_to_scd2
from wavelet_decomposition_spark.operators.sketch_tiers import (
    HLL_LG_K,
    hll_rsd,
    merge_sketch_tier,
    rank_band_columns,
    read_sketch_tier,
    sketch_tier,
)
from wavelet_decomposition_spark.queries import (
    _cents,
    _docs,
    _events,
    _events_1m,
    query,
    scratch_dir,
)


@query(bench=True, side_effect=True)
def _q_tier_routed_read(spark, sf_dir):
    """Read-side tier routing (operators/router.py): for a 7-day range and a
    200-point budget the router picks the finest tier whose point count fits
    (raw=604,800 / 1m=10,080 / 1h=168 -> 1h), writes that tier of the rollup
    cascade day-partitioned, and reads the range back partition-pruned (day
    directories at plan time, bucket_ts via parquet row-group stats).
    Retention is exercised too: with raw expiring after 3 days and 1m after
    10 (relative to the fixed 'now'), even an unbounded point budget
    degrades to 1h for this range — both decisions are asserted in-query,
    and the oracle pins them again cross-engine: it aggregates at exactly
    date_trunc('hour'), so a router regression to any other tier changes
    every output row."""
    start, end = datetime(2024, 1, 5), datetime(2024, 1, 12)
    retention = {"raw": 3, "1m": 10, "1h": 60, "1d": 3650}
    now = datetime(2024, 1, 31)
    tier, _ = choose_tier(start, end, 200, retention_days=retention, now=now)
    tier_unbounded, _ = choose_tier(
        start, end, 10**9, retention_days=retention, now=now
    )
    if tier != "1h" or tier_unbounded != "1h":  # pin the routing decisions
        raise RuntimeError(f"router regression: {tier}/{tier_unbounded}")

    one_h = _events_1m(spark, sf_dir).groupBy(
        "event_type", F.date_trunc("hour", F.col("bucket_ts")).alias("bucket_ts")
    ).agg(F.sum("turns").alias("turns"), F.sum("sum_value").alias("sum_value"))
    base = scratch_dir(f"tier_store_{os.path.basename(sf_dir.rstrip('/'))}")
    rollup.write_tier(one_h, base, tier)
    return read_tier_range(spark, base, tier, start, end).select(
        "event_type",
        "bucket_ts",
        "turns",
        F.round(F.col("sum_value"), 6).alias("total_value"),
        F.lit(tier).alias("tier"),
    )


@query(bench=True)
def _q_scd2_build(spark, sf_dir):
    """SCD2 version history (operators/scd.py): collapse each user's
    event_type change stream into validity intervals — one row per run of
    equal attribute, half-open valid_from/valid_to chaining, is_current on
    the last run. One shuffle total (the groupBy and both windows share the
    user_id hash partitioning; pinned in tests/test_scd_compact.py). The
    DuckDB oracle rebuilds the same runs with window functions."""
    return changes_to_scd2(
        _events(spark, sf_dir), "user_id", "event_type",
        tiebreak="event_id",
    )


@query(bench=True, side_effect=True)
def _q_compact_tier(spark, sf_dir):
    """Tier-store small-file compaction (operators/compact.py — the Iceberg
    rewriteDataFiles bin-pack analog): a fragmented day-partitioned 1m tier
    (16 writer tasks per refresh) is rewritten to ceil(rows/target) files
    per day and verified from the data itself. Rows-only but SELF-VERIFYING
    per day partition: files_ok (exact bin-pack file count), rows_ok, and
    checksum_ok (order-free bit_xor of xxhash64 over all value columns —
    content identity, not just cardinality); fewer_ok pins that compaction
    actually reduced the file count."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = scratch_dir(f"compact_src_{tag}")
    dst = scratch_dir(f"compact_dst_{tag}")
    one_m = _events_1m(spark, sf_dir).withColumn("day", F.to_date("bucket_ts"))
    one_m.repartition(16).write.mode("overwrite").partitionBy("day").parquet(src)
    out = compact_partitioned(spark, src, dst, target_rows_per_file=2000)
    return out.select(
        F.col("day").cast("string").alias("day"),
        "files_before",
        "files_after",
        "rows",
        "files_ok",
        "rows_ok",
        "checksum_ok",
        (F.col("files_after") <= F.col("files_before")).alias("fewer_ok"),
    )


@query(side_effect=True)
def _q_tier_refresh_resume(spark, sf_dir):
    """Resumable incremental tier refresh (io/checkpoint.py refresh_tier) —
    the north rule's 'resumable from checkpoint with per-partition lineage'
    clause, driver-exposed. Three refreshes of an hourly tier over the
    per-day-fingerprinted event stream: a cold full build, an unchanged
    rerun, and a crash-resume rerun after one day's manifest fingerprint is
    poisoned (the lost-manifest-append seam — the partition write is
    idempotent overwrite, so the rebuild must be content-identical).
    Rows-only but SELF-VERIFYING per day: full_build_ok (cold build touched
    every day), idempotent_ok (unchanged rerun rebuilt nothing),
    targeted_rebuild_ok (resume rebuilt exactly the poisoned day), and
    content_stable_ok (every day's manifest content hash — including the
    rebuilt one — is byte-stable across the three refreshes)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    base = scratch_dir(f"refresh_{tag}")
    os.makedirs(base)
    inp = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))

    def compute(day_slice):
        return day_slice.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        ).agg(
            F.count(F.lit(1)).alias("turns"), F.sum("value").alias("sum_value")
        )

    built1 = ckpt.refresh_tier(spark, inp, compute, base, "1h", max_concurrency=4)
    man1 = ckpt.read_manifest(base, "1h")
    built2 = ckpt.refresh_tier(spark, inp, compute, base, "1h", max_concurrency=4)
    target = sorted(man1)[0]
    poisoned = dict(man1[target])
    poisoned["input_fp"] = "lost-append-simulation"
    ckpt._append_manifest(base, "1h", poisoned)  # crash-seam simulation
    built3 = ckpt.refresh_tier(spark, inp, compute, base, "1h", max_concurrency=4)
    man3 = ckpt.read_manifest(base, "1h")
    n_days = len(man1)
    rows = [
        (
            day,
            int(man1[day]["n_rows"]),
            n_days > 0 and len(built1) == n_days,
            len(built2) == 0,
            built3 == [target],
            man3[day]["content_hash"] == man1[day]["content_hash"],
        )
        for day in sorted(man1)
    ]
    return spark.createDataFrame(
        rows,
        "day string, rows bigint, full_build_ok boolean, idempotent_ok "
        "boolean, targeted_rebuild_ok boolean, content_stable_ok boolean",
    )


@query(bench=True)
def _q_scd2_asof_probe(spark, sf_dir):
    """Point-in-time probe against the SCD2 history (the table's purpose):
    which version was current for every user at a fixed instant — the
    half-open intervals guarantee exactly one row per user with history at
    or before the probe, which the oracle re-derives independently from
    the same run construction. At scale this is the dimension side of a
    temporal join: valid_from <= T < valid_to is a pure filter on the
    versioned table, no window re-evaluation at probe time."""
    probe = F.lit("2024-01-15 12:00:00").cast("timestamp_ntz")
    hist = changes_to_scd2(
        _events(spark, sf_dir), "user_id", "event_type",
        tiebreak="event_id",
    )
    return hist.where(
        (F.col("valid_from") <= probe)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > probe))
    ).select("user_id", "version", "event_type", "valid_from", "is_current")


@query(side_effect=True)
def _q_tier_retention_expiry(spark, sf_dir):
    """Retention expiry sweep (io/checkpoint.py expire_tier/apply_retention)
    — the north rule's tier-expiry clause, driver-exposed. Builds a raw+1h
    tier store over the 30-day event stream, applies a per-tier policy
    (raw keeps 7 days, 1h keeps forever) at a fixed 'today', and verifies
    per tier-day from the store itself: dropped_ok (exactly the days
    before each tier's cutoff are gone from disk AND from the manifest),
    survivor_ok (every surviving day's partition still matches its
    manifest content hash — expiry touched nothing it kept; one grouped
    pass per tier, ckpt.tier_content_hashes), and
    refresh_ok (a horizon-filtered refresh after expiry rebuilds
    nothing — the manifest rewrite is consistent)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    base = scratch_dir(f"expiry_{tag}")
    os.makedirs(base)
    inp = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))

    def compute_raw(day_slice):
        return day_slice.groupBy(
            "event_type", F.date_trunc("second", F.col("ts")).alias("bucket_ts")
        ).agg(F.count(F.lit(1)).alias("turns"))

    def compute_1h(day_slice):
        return day_slice.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        ).agg(F.count(F.lit(1)).alias("turns"))

    ckpt.refresh_tier(spark, inp, compute_raw, base, "raw", max_concurrency=4)
    ckpt.refresh_tier(spark, inp, compute_1h, base, "1h", max_concurrency=4)
    man_before = {
        t: ckpt.read_manifest(base, t) for t in ("raw", "1h")
    }
    today = "2024-01-31"
    dropped = ckpt.apply_retention(base, {"raw": 7, "1h": 3650}, today)
    cutoffs = {"raw": "2024-01-24", "1h": "2021-01-31"}

    rows = []
    for tier in ("raw", "1h"):
        man_after = ckpt.read_manifest(base, tier)
        on_disk = {
            e[4:] for e in os.listdir(f"{base}/tier={tier}")
            if e.startswith("day=")
        }
        hashes = ckpt.tier_content_hashes(spark, base, tier)
        for day in sorted(man_before[tier]):
            expired = day < cutoffs[tier]
            dropped_ok = (
                (day in dropped[tier]) == expired
                and (day in on_disk) != expired
                and (day in man_after) != expired
            )
            # an expired day has nothing to compare; gone is correct
            survivor_ok = expired or (
                hashes.get(day) == man_after[day]["content_hash"]
            )
            rows.append((tier, day, expired, dropped_ok, survivor_ok))

    # horizon-filtered refresh after expiry must rebuild nothing
    horizon = inp.filter(F.col("day") >= F.lit(cutoffs["raw"]).cast("date"))
    refresh_ok = (
        ckpt.refresh_tier(spark, horizon, compute_raw, base, "raw",
                          max_concurrency=4) == []
    )
    return spark.createDataFrame(
        [(t, d, e, dok, sok, refresh_ok) for t, d, e, dok, sok in rows],
        "tier string, day string, expired boolean, dropped_ok boolean, "
        "survivor_ok boolean, refresh_ok boolean",
    )


@query(bench=True)
def _q_table_profile(spark, sf_dir):
    """Ingest-time column profiling (operators/profile.py): one scan, one
    unpivot, one grouped aggregate — per-column rows/nulls/exact-distinct/
    min/max in long format; adding profiled columns never adds scans
    (plan-pinned in tests/test_profile.py). The 100-TB variant swaps
    count_distinct for approx_count_distinct (exact=False) — same plan
    minus the distinct pre-aggregation."""
    src = _events(spark, sf_dir).select(
        "event_type",
        F.col("user_id").cast("string").alias("user_id"),
        "props",
        F.to_date("ts").cast("string").alias("day"),
    )
    return profile_columns(src, ["event_type", "user_id", "props", "day"])


@query(bench=True)
def _q_sketch_tier_merge(spark, sf_dir):
    """Mergeable sketch tiers (operators/sketch_tiers.py): hourly
    Datasketches KLL(value) + HLL(user_id) sketches per event_type, MERGED
    to daily sketches without re-reading raw — the only way percentiles and
    distinct counts roll up at 100 TB (hourly p95s don't average into the
    daily p95; hourly distincts double-count). Pure JVM both levels:
    kll_sketch_agg_double -> kll_merge_agg_double, hll_sketch_agg ->
    hll_union_agg; only sketch bytes ride the second exchange (24 rows per
    key-day). Rows-only, SELF-VERIFYING against raw computed in-query:
    ``conservation_ok`` = the merged KLL's own exact stream length
    (kll_sketch_get_n) AND the composed count both equal the exact raw row
    count — every raw row passed the two-level merge tree exactly once;
    ``kll_ok`` = each daily p50/p95/p99 estimate lands inside the exact
    order-statistics band at rank +/- 0.05 (KLL's merge theorem preserves
    the k=200 ~1.65%-sigma rank bound; KLL compaction is randomized so
    bands, never equality); ``hll_ok`` = merged distinct estimate within
    5*rsd of exact (rsd = 1.04/sqrt(2^12), absolute floor 2)."""
    probs = [0.5, 0.95, 0.99]
    eps = 0.05
    ev = _events(spark, sf_dir).select("event_type", "ts", "value", "user_id")
    hourly = sketch_tier(ev, ["event_type"], "value", "user_id", "1h")
    daily = read_sketch_tier(
        merge_sketch_tier(hourly, ["event_type"]), probs
    )
    # verification side (exact, raw-scan — exists only to check the cascade)
    exact = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.countDistinct("user_id").alias("d_exact"),
        *rank_band_columns(probs, eps),
    )
    kll_ok = None
    for p in probs:
        tag = f"p{int(round(p * 100)):02d}"
        c = (F.col(f"{tag}_est") >= F.col(f"{tag}_lo")) & (
            F.col(f"{tag}_est") <= F.col(f"{tag}_hi")
        )
        kll_ok = c if kll_ok is None else (kll_ok & c)
    return (
        daily.join(F.broadcast(exact), ["event_type", "bucket_ts"])
        .select(
            "event_type",
            "bucket_ts",
            "n_rows",
            "distinct_est",
            "d_exact",
            *[f"p{int(round(p * 100)):02d}_est" for p in probs],
            (
                (F.col("kll_n") == F.col("n_exact"))
                & (F.col("n_rows") == F.col("n_exact"))
            ).alias("conservation_ok"),
            kll_ok.alias("kll_ok"),
            (
                F.abs(F.col("distinct_est") - F.col("d_exact"))
                <= F.greatest(
                    F.lit(5 * hll_rsd(HLL_LG_K)) * F.col("d_exact"), F.lit(2.0)
                )
            ).alias("hll_ok"),
        )
        .orderBy("event_type", "bucket_ts")
    )


@query(bench=True)
def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators/sampling.py weighted_sample — Efraimidis-Spirakis A-ES)
    of 50 documents with weight = n_chars, plus planted weights that
    make the draw falsifiable.

    Planted: 20 docs at weight 1e9 (every one MUST be sampled — their
    worst ES key beats any realistic corpus key) and 20 docs at weight
    1e-6 (NONE may be sampled — their best key loses to every corpus
    doc by orders of magnitude); seed fixed, so both facts are
    deterministic, not statistical. Invariants: ``planted_ok`` /
    ``light_ok`` as above, ``k_ok`` (exactly 50 rows), and ``det_ok`` —
    a SECOND invocation over the same input repartitioned differently
    must select the identical id set (the partition-independence
    property DataFrame.sample does not have): the full outer join of
    the two draws on ``doc_id`` leaves no id unmatched. Each invariant
    is a window aggregate over that one join. Rows-only (ln is not
    cross-engine bit-stable; the SELECTED SET is the checked artifact).
    """
    base = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("double").alias("w")
    )
    heavies = spark.range(1, 21).select(
        (-F.col("id")).alias("doc_id"), F.lit(1e9).alias("w")
    )
    lights = spark.range(100, 120).select(
        (-F.col("id")).alias("doc_id"), F.lit(1e-6).alias("w")
    )
    corpus = base.unionByName(heavies).unionByName(lights)
    k = 50
    samp = weighted_sample(corpus, k=k, seed=42)
    samp2 = weighted_sample(corpus.repartition(7), k=k, seed=42).select(
        F.col("doc_id").alias("_id2")
    )
    every = Window.partitionBy()
    d = F.col("doc_id")
    unmatched = d.isNull() | F.col("_id2").isNull()
    return (
        samp.join(samp2, d == F.col("_id2"), "full")
        .select(
            "*",
            (F.count(F.when(d.between(-20, -1), 1)).over(every) == 20)
            .alias("planted_ok"),
            (F.count(F.when(d <= -100, 1)).over(every) == 0).alias("light_ok"),
            (F.count(d).over(every) == k).alias("k_ok"),
            (F.count(F.when(unmatched, 1)).over(every) == 0).alias("det_ok"),
        )
        .where(d.isNotNull())
        .drop("_id2")
        .orderBy("doc_id")
    )


def _zx_zy(spark, sf_dir):
    """Shared (x, y) key pair for the z-order queries: epoch-hour of ts
    (~473k < 2^21) and exact integer cents (<= 56,021 < 2^21)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.floor(F.unix_timestamp("ts") / F.lit(3600))
        .cast("bigint")
        .alias("x"),
        _cents().alias("y"),
    )


@query(bench=True)
def _q_zorder_values(spark, sf_dir):
    """Morton/Z-order key computation (operators/layout.py zvalue): the
    bit-interleave of (epoch-hour, integer cents) per event — pure
    64-bit shift/mask ops, so the DuckDB oracle replays the identical
    magic-mask spread and the result is hash-exact cross-engine. This
    is the curve `zorder_layout` clusters files on.
    """
    base = _zx_zy(spark, sf_dir)
    return base.select(
        "event_id", "x", "y",
        zvalue(F.col("x"), F.col("y")).alias("z"),
    ).orderBy("event_id")


@query(bench=True)
def _q_zorder_layout(spark, sf_dir):
    """Z-order layout writer (operators/layout.py write_zorder): events
    written range-clustered on the Morton curve of (epoch-hour, cents).
    Rows-only but SELF-VERIFYING from the written files' OWN parquet
    metadata (pyarrow, metadata-only): per-file rows <= cap (`cap_ok`),
    and a point predicate on EITHER dimension opens at most half the
    files (`prune_x_ok` / `prune_y_ok` from the min/max envelopes).
    The contrast is the point: an arrival-order write measures ~1.0 on
    both, and `clustered_layout`'s 1-D lexicographic write prunes its
    leading key perfectly but measures ~1.0 on the OTHER key; the
    z-curve gives ~sqrt(1/n_files) on both at once — the layout for
    tables filtered by either key independently.
    """
    path = scratch_dir("layout_zorder")
    cap = 5_000
    write_zorder(
        _zx_zy(spark, sf_dir), path, target_rows_per_file=cap,
    )
    pfs = {}
    stats = None
    for dim in ("x", "y"):
        stats = layout_stats(path, dim)
        if any(s["min"] is None or s["max"] is None for s in stats):
            raise RuntimeError("z-order write produced stat-less groups")
        gmin = min(s["min"] for s in stats)
        gmax = max(s["max"] for s in stats)
        probes = [gmin + (gmax - gmin) * i // 4 for i in range(5)]
        pfs[dim] = pruning_factor(stats, probes)
    files = sorted({s["file"] for s in stats})
    rows = [
        (
            files.index(s["file"]),
            s["row_group"],
            s["rows"],
            float(pfs["x"]),
            float(pfs["y"]),
            s["rows"] <= cap,
            pfs["x"] <= 0.5,
            pfs["y"] <= 0.5,
        )
        for s in stats
    ]
    return spark.createDataFrame(
        rows,
        "file_idx int, row_group int, rows bigint, pf_x double, "
        "pf_y double, cap_ok boolean, prune_x_ok boolean, "
        "prune_y_ok boolean",
    )


@query(bench=True)
def _q_json_extract_stats(spark, sf_dir):
    """Semi-structured extraction surface: pull the integer ``$.k``
    field out of the events JSON props column and aggregate it per
    event type (count, sum, min, max, nulls) — the schema-on-read path
    every event pipeline runs before promoting a JSON field to a real
    column. Spark `get_json_object` vs DuckDB `json_extract`, both cast
    to BIGINT — exact integers, hash-identical cross-engine.
    """
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        _events(spark, sf_dir)
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "n_null"
            ),
        )
        .orderBy("event_type")
    )


@query(bench=True)
def _q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (operators/merge.py merge_upsert): one full
    outer join classifies every row into keep / update / insert / drop.
    Deterministic planted CDC batch over the events table: target =
    90% of events (ids not divisible by 10); source carries updates
    (ids % 7 = 0, cents shifted +1000), deletes (ids % 13 = 0 not also
    % 7), and inserts (ids % 50 = 0, key shifted by 1e9). Updates of
    absent rows become inserts and deletes of absent rows are no-ops —
    both paths exercised by the % 10 holes. All exact integers;
    DuckDB-oracle-checked.
    """
    ev = _events(spark, sf_dir).select(
        "event_id",
        _cents().alias("cents"),
    )
    target = ev.where(F.col("event_id") % 10 != 0)
    source = (
        ev.where(F.col("event_id") % 7 == 0)
        .select(
            "event_id",
            (F.col("cents") + 1000).alias("cents"),
            F.lit(False).alias("del"),
        )
        .unionByName(
            ev.where(
                (F.col("event_id") % 13 == 0)
                & (F.col("event_id") % 7 != 0)
            ).select(
                "event_id",
                F.lit(None).cast("bigint").alias("cents"),
                F.lit(True).alias("del"),
            )
        )
        .unionByName(
            ev.where(F.col("event_id") % 50 == 0).select(
                (F.col("event_id") + 1_000_000_000).alias("event_id"),
                "cents",
                F.lit(False).alias("del"),
            )
        )
    )
    return merge_upsert(
        target, source, keys=["event_id"], delete_col="del"
    ).orderBy("event_id")


@query(bench=True)
def _q_referential_integrity(spark, sf_dir):
    """Cross-table referential-integrity gate
    (operators/expect.py check_foreign_keys): all seven TPC-H foreign
    keys checked in one query — child count, NULL-FK count, and orphan
    count per FK (NULL is unknown, not an orphan). Each check is one
    left join of the child's single key column against the parent's
    deduplicated key set (broadcast — dimension key sets stay small even
    at 100 TB fact scale) feeding one aggregate that yields all three
    counts. DuckDB-oracle-checked; all integers and booleans.
    """
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    return check_foreign_keys(
        [
            ("customer_nationkey", rd("customer"), "c_nationkey",
             rd("nation"), "n_nationkey"),
            ("lineitem_orderkey", rd("lineitem"), "l_orderkey",
             rd("orders"), "o_orderkey"),
            ("lineitem_partkey", rd("lineitem"), "l_partkey",
             rd("part"), "p_partkey"),
            ("lineitem_suppkey", rd("lineitem"), "l_suppkey",
             rd("supplier"), "s_suppkey"),
            ("nation_regionkey", rd("nation"), "n_regionkey",
             rd("region"), "r_regionkey"),
            ("orders_custkey", rd("orders"), "o_custkey",
             rd("customer"), "c_custkey"),
            ("supplier_nationkey", rd("supplier"), "s_nationkey",
             rd("nation"), "n_nationkey"),
        ]
    ).orderBy("fk")


@query(bench=True)
def _q_snapshot_diff(spark, sf_dir):
    """CDC-style snapshot reconciliation: diff two versions of the events
    table (the second with deterministic planted mutations — deletions
    where event_id%101==0, value updates where %97==0, and appended
    synthetic rows) into per-key change classes via ONE full-outer join
    on the key, then aggregate class counts plus an exact integer-cents
    checksum of the value drift. The primitive behind tier-rebuild
    verification and backfill audits; at scale the join is the only
    shuffle and pre-bucketed snapshots would co-locate it."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    new = (
        ev.where(F.col("event_id") % 101 != 0)
        .withColumn(
            "value",
            F.when(
                F.col("event_id") % 97 == 0, F.col("value") + 1.5
            ).otherwise(F.col("value")),
        )
        .unionByName(
            ev.select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "user_id",
                "value",
            ).where(F.col("event_id") % 500 == 0)
        )
    )
    a = ev.select(
        "event_id",
        F.col("value").alias("_va"),
        _cents().alias("_ca"),
    )
    b = new.select(
        "event_id",
        F.col("value").alias("_vb"),
        _cents().alias("_cb"),
    )
    j = a.join(b, "event_id", "full_outer")
    cls = (
        F.when(F.col("_va").isNull(), F.lit("added"))
        .when(F.col("_vb").isNull(), F.lit("removed"))
        .when(F.col("_ca") != F.col("_cb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("change", cls)
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.coalesce("_cb", F.lit(0)) - F.coalesce("_ca", F.lit(0))
            ).alias("cents_drift"),
        )
    )


@query(bench=True)
def _q_data_expectations(spark, sf_dir):
    """Declarative ingest-gate expectations over events
    (operators/expect.py check_expectations): six rules — nullability,
    value bounds, timestamp range, enum membership, id positivity,
    props-JSON well-formedness — evaluated in ONE scan (each rule is a
    conditional sum inside a single global aggregate; an unevaluable
    rule counts as a violation). Long-format output so the violation
    table can be stored, trended, and alerted on like any tier."""
    ev = _events(spark, sf_dir)
    rules = {
        "value_nonnegative": F.col("value") >= 0,
        "value_below_10k": F.col("value") < 10_000,
        "ts_in_2024": (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2025-01-01").cast("timestamp")),
        "event_type_known": F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
        "user_id_positive": F.col("user_id") >= 0,
        "props_is_json": F.get_json_object(
            F.col("props"), "$"
        ).isNotNull(),
    }
    return check_expectations(ev, rules)


@query(bench=True, side_effect=True)
def _q_clustered_layout(spark, sf_dir):
    """Scan-optimized layout writer (operators/layout.py): events
    range-clustered on user_id, sorted within partitions, file sizes
    capped. Rows-only but SELF-VERIFYING from the written files' OWN
    parquet metadata (pyarrow, no scan): per-file rows <= cap
    (`cap_ok`), and a point predicate's candidate file set is a small
    fraction of all files (`prune_ok` from the min/max envelopes — the
    exact statistic a distributed planner prunes with; an arrival-order
    write measures ~1.0 here, i.e. zero pruning)."""
    path = scratch_dir("layout_events")
    cap = 5_000
    write_clustered(
        _events(spark, sf_dir).select("user_id", "ts", "value"),
        path,
        target_rows_per_file=cap,
    )
    stats = layout_stats(path, "user_id")
    files = sorted({s["file"] for s in stats})
    # probes span the ACTUAL key domain read back from the files — fixed
    # probe values would fall outside small-sf domains and prune
    # vacuously. The writer always produces int64 min/max stats; a
    # stat-less row group here means the write itself is broken, so fail
    # loudly rather than probing a half-known domain.
    if any(s["min"] is None or s["max"] is None for s in stats):
        raise RuntimeError("clustered write produced stat-less row groups")
    gmin = min(s["min"] for s in stats)
    gmax = max(s["max"] for s in stats)
    probes = [gmin + (gmax - gmin) * i // 4 for i in range(5)]
    pf = pruning_factor(stats, probes)
    rows = [
        (
            files.index(s["file"]),
            s["row_group"],
            s["rows"],
            int(s["min"]),
            int(s["max"]),
            s["rows"] <= cap,
            pf <= 2.0 / len(files) + 0.05,
        )
        for s in stats
    ]
    return spark.createDataFrame(
        rows,
        "file_idx int, row_group int, rows bigint, key_min bigint, "
        "key_max bigint, cap_ok boolean, prune_ok boolean",
    )
