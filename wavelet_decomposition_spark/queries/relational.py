"""Relational queries: rollups, TPC-H-style joins,
window and ranking functions, pivots, cubes, profiles, approximate
aggregates and the planted-skew pair.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import activity, rollup
from wavelet_decomposition_spark.operators.activity import conversation_stats
from wavelet_decomposition_spark.operators.cms import cms_heavy_hitters
from wavelet_decomposition_spark.operators.featureprep import winsorize
from wavelet_decomposition_spark.operators.funnel import (
    cohort_retention,
    funnel,
)
from wavelet_decomposition_spark.operators.sessions import sessionize
from wavelet_decomposition_spark.operators.sketch_tiers import (
    HLL_LG_K,
    hll_rsd,
    sliding_distinct_sketch,
)
from wavelet_decomposition_spark.plans.session import release_checkpoint
from wavelet_decomposition_spark.queries import (
    _cents,
    _events,
    _events_1m,
    query,
)


@query(bench=True)
def _q_activity_1m(spark, sf_dir):
    """Per-(event_type, minute) activity tier — counts and 6-dp value
    sums; the base continuous aggregate of the rollup tower."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


@query(bench=True)
def _q_rollup_1h(spark, sf_dir):
    """1m -> 1h cascade (continuous-aggregate composition; oracle aggregates
    straight from raw — equality IS the rollup-correctness statement)."""
    return (
        _events_1m(spark, sf_dir).groupBy(
            "event_type", F.date_trunc("hour", F.col("bucket_ts")).alias("bucket_ts")
        )
        .agg(
            F.sum("turns").alias("turns"),
            F.round(F.sum("sum_value"), 6).alias("total_value"),
        )
    )


@query()
def _q_normalize_by_group(spark, sf_dir):
    """P2 — per-group mean normalization."""
    w = Window.partitionBy("event_type")
    return _events(spark, sf_dir).select(
        "event_id",
        F.round(F.col("value") / F.avg("value").over(w), 6).alias("norm_value"),
    )


@query()
def _q_per_group_limit(spark, sf_dir):
    """P1 — per-group positional limit (leap-trim pattern)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("event_type", "event_id", "rn")
    )


@query()
def _q_mask_case(spark, sf_dir):
    """P7 — CASE masking before aggregation."""
    return (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.when(
                F.col("event_type").isin("click", "view"), F.col("value")
            ).otherwise(F.lit(0.0)).alias("masked"),
        )
        .groupBy("event_type")
        .agg(F.round(F.sum("masked"), 6).alias("masked_sum"))
    )


@query()
def _q_sketch_quantiles(spark, sf_dir):
    """Sketch-based quantiles — the 100-TB path for percentiles (an exact
    percentile needs a per-group sort shuffle; the GK sketch partial-
    aggregates map-side and merges). Per event_type, p50/p95/p99 via
    ``percentile_approx(accuracy=10k)`` alongside the exact order
    statistics. Rows-only but SELF-VERIFYING the same way `epn_approx`
    is: GK guarantees rank error <= n/accuracy, so each approx value must
    lie within the exact order-statistics band around its target rank —
    ``sketch_ok`` rides on every row and the local gate asserts it."""
    acc = 10_000
    qs = [0.5, 0.95, 0.99]
    ev = _events(spark, sf_dir).select("event_type", "value")
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", qs, acc).alias("_ap"),
        F.count(F.lit(1)).alias("n_size"),
    )
    approx = approx.select(
        "event_type",
        "n_size",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qs]).alias("q"),
                F.col("_ap").alias("approx"),
            )
        ).alias("_z"),
    ).select(
        "event_type", "n_size", F.col("_z.q").alias("q"),
        F.col("_z.approx").alias("approx"),
    )
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.withColumn("rnk", F.row_number().over(w))
    banded = approx.withColumn(
        "_t", F.ceil(F.col("q") * F.col("n_size")).cast("int")
    ).withColumn("_e", (F.col("n_size") / acc).cast("int") + 1)
    lo_hi = (
        ranked.join(
            F.broadcast(banded), "event_type"
        )
        .filter(
            (F.col("rnk") == F.greatest(F.col("_t") - F.col("_e"), F.lit(1)))
            | (
                F.col("rnk")
                == F.least(F.col("_t") + F.col("_e"), F.col("n_size"))
            )
        )
        .groupBy("event_type", "q")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    return (
        banded.join(lo_hi, ["event_type", "q"])
        .select(
            "event_type",
            F.round("q", 2).alias("q"),
            F.round("approx", 6).alias("approx"),
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            (
                (F.col("approx") >= F.col("lo"))
                & (F.col("approx") <= F.col("hi"))
            ).alias("sketch_ok"),
        )
    )


@query()
def _q_sketch_distinct(spark, sf_dir):
    """HyperLogLog++ distinct counts — the 100-TB path for cardinality
    (exact distinct shuffles every key; HLL++ partial-aggregates a
    fixed-size sketch map-side). Per event_type, approx distinct users at
    rsd=2% alongside the exact count. Rows-only, SELF-VERIFYING:
    ``sketch_ok`` asserts |approx-exact| <= 5*rsd*exact — a 5-sigma band,
    and the sketch is deterministic for fixed input, so the check is
    stable, not flaky."""
    rsd = 0.02
    ev = _events(spark, sf_dir)
    out = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return out.select(
        "event_type",
        "approx_users",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 5 * rsd * F.col("exact_users")
        ).alias("sketch_ok"),
    )


@query()
def _q_topk_argmin(spark, sf_dir):
    """A11 pattern — per-group argmax bucket (orderBy + limit shape)."""
    per_min = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("bucket_ts"))
    return (
        per_min.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "bucket_ts", "n")
    )


@query(bench=True)
def _q_pricing_summary(spark, sf_dir):
    """Pushdown + partial-agg showcase (TPC-H Q1 shape on lineitem).

    Sums quantize the inputs to integer units first (quantity/price at
    1e-2, discount at 1e-4) and sum LONGs: integer sums are order-free and
    bit-identical cross-engine at ANY scale, where a double sum + round is
    at the mercy of association order — the first sf1.0 oracle run caught
    exactly that (~1e-5 drift on 5e10 sums). The quantized sums stay far
    under 2^53, so the final double divisions are exact and identical in
    both engines."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q_units = F.round(F.col("l_quantity") * 100).cast("long")
    p_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d_units = F.round(F.col("l_discount") * 10000).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-06-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(q_units).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.sum(p_cents).cast("double") / F.lit(100.0)).alias(
                "sum_base_price"
            ),
            (
                F.sum(d_units).cast("double")
                / F.lit(10000.0)
                / F.count(F.lit(1))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(bench=True)
def _q_nation_revenue(spark, sf_dir):
    """J2 — dimension joins (orders -> customer -> nation). Broadcast
    discipline, learned from the 10x robustness run (BENCH.md): nation is
    FIXED-cardinality (25 rows forever) and is pinned broadcast; customer
    SCALES with the fact table (15k at sf0.1, 15M at sf100 — a pinned
    broadcast OOMs the driver at scale and its single-threaded build cost
    already dominated the sf1.0 wall), so that join is left to AQE, which
    broadcasts it at runtime exactly while the measured size stays under
    threshold and shuffle-joins beyond."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _lineitem_rev4(spark, sf_dir, where):
    """``(l_orderkey, _rev4)`` of the lineitems ``where`` holds for, with
    the revenue ``price * (1 - discount)`` in exact integer 1e-4 units."""
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(where)
        .select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000
            ).cast("bigint").alias("_rev4"),
        )
    )


@query(bench=True)
def _q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): customer segment filter ->
    broadcast join into orders -> shuffle join into lineitem -> top 10
    unshipped orders by revenue. Revenue is quantized to exact 10^-4
    units before summing (price has 2 dp, discount 2 dp, so
    price*(1-disc) is a 4-dp decimal: integer sums are order-free and
    bit-identical cross-engine; a float sum + round would be at the
    mercy of association order). Deterministic (revenue desc, orderkey)
    top-k."""
    cutoff = F.lit("1998-06-15").cast("timestamp_ntz")
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = _lineitem_rev4(spark, sf_dir, F.col("l_shipdate") > cutoff)
    return (
        # cust scales with sf (even segment-filtered) — broadcast is AQE's
        # runtime call from the measured size, not a pin (see nation_revenue)
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum("_rev4") / 10_000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(bench=True)
def _q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): lineitem returnflag +
    order-date-quarter filters -> shuffle join on orderkey -> broadcast
    joins into customer and nation -> top 20 customers by lost revenue.
    Same exact 1e-4-unit revenue quantization as shipping_priority, so
    the top-k boundary is deterministic cross-engine."""
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = _lineitem_rev4(spark, sf_dir, F.col("l_returnflag") == "R")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # cust scales with sf — AQE's runtime call (see nation_revenue);
        # nation is fixed-cardinality and stays pinned
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (F.sum("_rev4") / 10_000.0).alias("revenue"),
            F.round(F.first("c_acctbal"), 6).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(bench=True)
def _q_feature_binning(spark, sf_dir):
    """Equal-frequency feature discretization (ML prep): per event
    type, decile-bin the exact integer cents values with ntile(10)
    over a TOTAL order (cents, event_id) — the tie-break makes bucket
    membership deterministic, so the bin boundaries, counts, and
    min/max per bin are hash-exact cross-engine (both engines implement
    SQL-standard ntile: bucket sizes n/k with the first n mod k buckets
    one larger). One exchange on the group key; the per-group sort is
    the inherent cost of rank-based binning — at 100 TB use the GK
    sketch quantiles (`sketch_quantiles`) for approximate boundaries
    without the sort.
    """
    ev = _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        _cents().alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    return (
        ev.withColumn("bin", F.ntile(10).over(w))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("event_type", "bin")
    )


@query(bench=True)
def _q_topn_others(spark, sf_dir):
    """Top-N with OTHERS rollup (the TimescaleDB `topn_agg` /
    dashboard-legend pattern): the 3 highest-revenue event types keep
    their identity, everything else collapses into one 'OTHER' bucket
    so the output cardinality is fixed no matter how many tail
    categories exist. Exact integer cents; deterministic
    (revenue desc, event_type) cut; DuckDB-oracle-checked. Two hash
    aggregates over a 5-row intermediate — the N-row re-aggregation is
    free at any scale because the first aggregate already reduced to
    one row per category.
    """
    per = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.sum(_cents()).alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    ranked = per.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.desc("cents"), F.asc("event_type"))
        ),
    )
    return (
        ranked.select(
            F.when(F.col("_rk") <= 3, F.col("event_type"))
            .otherwise(F.lit("OTHER"))
            .alias("bucket"),
            "cents",
            "n",
        )
        .groupBy("bucket")
        .agg(
            F.sum("cents").alias("cents"),
            F.sum("n").alias("n"),
            F.count(F.lit(1)).alias("n_categories"),
        )
        .orderBy(F.desc("cents"), "bucket")
    )


@query(bench=True)
def _q_cohort_retention(spark, sf_dir):
    """Weekly retention triangle (operators/funnel.py cohort_retention):
    users cohorted by the week of their first signup; active in period k
    = any event in [cohort_start + k weeks, +1 week). Integer modulo
    cohort arithmetic (no float floor), unrounded retention ratio — both
    engines divide the same two integers once, bit-identically."""
    out = cohort_retention(_events(spark, sf_dir))
    return out.select(
        "cohort_ts", "period_k", "n_active", "n_cohort", "retention"
    )


@query(bench=True)
def _q_funnel_steps(spark, sf_dir):
    """Ordered signup->click->purchase funnel with a 7-day whole-funnel
    window (operators/funnel.py funnel): a user completes step k at their
    earliest step-k event at/after their step-(k-1) completion and within
    the window of their step-1 time. One Spark job: per-user furthest
    stage, tiny histogram, cumulative >=k counts."""
    return funnel(
        _events(spark, sf_dir),
        steps=["signup", "click", "purchase"],
    )


@query(bench=True)
def _q_value_histogram(spark, sf_dir):
    """Fixed-grid value histogram per event type (25-unit bins over
    [0, 500)): integer bucket arithmetic, exact counts, the standard
    distribution profile a quality dashboard reads. One hash aggregate
    with map-side partial combine."""
    b = F.floor(F.col("value") / 25).cast("int")
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.least(F.greatest(b, F.lit(0)), F.lit(19)).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bin_min"),
            F.round(F.max("value"), 6).alias("bin_max"),
        )
    )


def _user_profile(ev):
    """One row per user of the events ``ev``: first/last seen, tenure,
    active days, event and per-class counts, and purchase spend in
    integer cents, in one hash aggregate."""
    tenure_s = (
        F.unix_micros(F.max("ts").cast("timestamp"))
        - F.unix_micros(F.min("ts").cast("timestamp"))
    ) / F.lit(1_000_000.0)
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.round(tenure_s, 6).alias("tenure_s"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("n_purchases"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("bigint").alias("n_errors"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                _cents(),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("spend_cents"),
    )


@query(bench=True)
def _q_user_profile(spark, sf_dir):
    """Per-user lifetime profile: first/last seen, tenure, distinct
    active days, event counts by class, exact integer-cents spend — the
    LTV/engagement table every downstream model joins against. ONE hash
    aggregate over events (conditional aggregation for the per-class
    counts — no per-class scans), integer-exact money."""
    return _user_profile(_events(spark, sf_dir))


@query(bench=True, side_effect=True)
def _q_freq_items(spark, sf_dir):
    """Karp–Shenker–Papadimitriou frequent items over user_id
    (`DataFrame.freqItems`) — the third sketch family after GK quantiles
    and HLL distinct: single pass, bounded memory, returns a SUPERSET of
    every sufficiently-frequent item. Rows-only, SELF-VERIFYING on the
    algorithm's ACTUAL guarantee: with ``k = floor(1/support)`` counters
    KSP only promises survival for items with count STRICTLY ABOVE
    ``total/k`` — ``support*total`` is a weaker threshold a correct
    implementation may legitimately miss, and asserting it would
    red-gate correct code. If no item clears the guarantee threshold at
    this scale, one sentinel row documents that honestly instead of
    failing the gate on an empty result.

    PRODUCTION CONTRACT: the exact pre-aggregate below exists ONLY to
    parameterize the gate's invariant (it computes the true counts the
    sketch is checked against — computing the exact answer to pick the
    support would defeat the sketch in production). The scale path picks
    the support A PRIORI from the question being asked ("items above
    0.1% of traffic" => support=0.001, k=1000 counters) and runs the
    single ``df.freqItems(cols, support)`` sketch pass alone — one scan,
    k counters per partition, no exact pre-pass."""
    ev = _events(spark, sf_dir).select("user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    top_n, total = (
        exact.agg(F.max("n_exact"), F.sum("n_exact")).collect()[0]
    )
    # adaptive support: half the top user's true frequency — the top
    # user then clears total/k by construction whenever the floor
    # doesn't bind (a fixed 2% was empty on the 150-uniform-user
    # sf0.01 corpus). FLOOR = 1e-3, not the 1e-4 API minimum: freqItems
    # keeps 1/support counters per partition, so an unfloored adaptive
    # support scales the sketch's memory with the key space — the 10x
    # robustness run (BENCH.md) measured 21x the wall for 10x the data
    # before the floor bounded it at 1000 counters. When the floor binds
    # (top user's share < 0.2%), no user is frequent at the floor and
    # the sentinel-row path reports that honestly.
    support = max(1e-3, 0.5 * top_n / total)
    k = int(1.0 / support)
    items = ev.freqItems(["user_id"], support=support).collect()[0][0]
    heavy = exact.where(F.col("n_exact") > total / k)
    items_df = F.array(*[F.lit(int(i)) for i in items])
    out = heavy.select(
        "user_id",
        "n_exact",
        (F.col("n_exact") / F.lit(float(total))).alias("freq"),
        F.array_contains(items_df, F.col("user_id")).alias("sketch_ok"),
    )
    if out.limit(1).count() == 0:
        return spark.createDataFrame(
            [(-1, 0, 0.0, True)],
            "user_id bigint, n_exact bigint, freq double, "
            "sketch_ok boolean",
        )
    return out


# designed nested-loop join: 1-row broadcast n_total / n_hot_exact invariant
# joins
@query(bench=True, designed_bnl=True)
def _q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators/cms.py) — the a-priori-
    support production path the `freq_items` contract points to: one
    Arrow pass folds each partition into a d x w CMS + exact local top-k,
    the only shuffle moves sketch cells (bounded by partitions x d*w,
    independent of input rows), and estimation is a relational min-join.
    Run over the planted ~20%-hot-key skew (`_skewed_events`, support
    5%). Rows-only but SELF-VERIFYING via the operator's two provable
    guarantees, each gate-asserted per row: ``no_undercount_ok``
    (estimate >= exact: CMS counters only add collision mass) and
    ``band_ok`` (overcount within 5x the expected n/width collision
    mass); plus ``superset_ok`` = every truly-hot key (exact count >=
    support*n, computed by an exact group-by that exists ONLY to check
    the sketch) appears in the output — the pigeonhole local-top-k
    guarantee. The exact aggregates here are gate instrumentation; the
    production path is the sketch alone."""
    support, width = 0.05, 8192
    ev = _skewed_events(spark, sf_dir)
    # materialize the heavy-hitter table ONCE (r6): it feeds the exact-
    # count candidate filter, the n_total gate, and the returned join —
    # Catalyst otherwise re-runs the whole CMS Arrow fold per consumer
    # (9 Python stages in the before-plan); the table is bounded at
    # <= 1/support keys, so the checkpoint is tiny at any sf
    heavy = cms_heavy_hitters(ev, "user_id", support=support, width=width)
    hh = heavy.withColumn(
        "user_id", F.col("key").cast("bigint")
    ).localCheckpoint()
    release_checkpoint(heavy)  # the operator's partials: hh holds the answer
    # exact counts for the FOUND keys only — filter-before-shuffle
    exact_cand = (
        ev.join(F.broadcast(hh.select("user_id")), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    # true hot-set size (full exact group-by: gate-scale check only)
    n_tot = hh.agg(F.max("n_total").alias("_n"))
    n_hot_exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .crossJoin(F.broadcast(n_tot))
        .filter(F.col("_c") >= F.lit(support) * F.col("_n"))
        .agg(F.count(F.lit(1)).alias("n_hot_exact"))
    )
    w_all = Window.partitionBy(F.lit(1))
    return (
        hh.join(exact_cand, "user_id")
        .crossJoin(F.broadcast(n_hot_exact))
        .select(
            "user_id",
            "estimate",
            "exact_cnt",
            "n_total",
            (F.col("estimate") >= F.col("exact_cnt")).alias(
                "no_undercount_ok"
            ),
            (
                F.col("estimate")
                <= F.col("exact_cnt") + 5.0 * F.col("n_total") / width
            ).alias("band_ok"),
            (
                F.sum(
                    (
                        F.col("exact_cnt")
                        >= F.lit(support) * F.col("n_total")
                    ).cast("int")
                ).over(w_all)
                == F.col("n_hot_exact")
            ).alias("superset_ok"),
        )
        .orderBy("user_id")
    )


@query(bench=True)
def _q_hourly_pivot(spark, sf_dir):
    """Wide-format hourly matrix via the pivot surface
    (`groupBy().pivot(values=...)`): one count column per event type —
    the BI-export shape. Explicit pivot values so Catalyst skips the
    distinct-scan planning pass (at 100 TB an unlisted pivot first runs
    a full distinct over the pivot column); exact integer counts;
    oracle is the standard conditional-aggregation expansion."""
    out = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .pivot(
            "event_type", ["click", "view", "purchase", "signup", "error"]
        )
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "bucket_ts",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(f"n_{c}")
            for c in ("click", "view", "purchase", "signup", "error")
        ],
    )


@query(bench=True)
def _q_hourly_percentiles(spark, sf_dir):
    """Exact per-(type, hour) latency-style percentile bands (p50/p95/p99
    + min/max) — the monitoring query behind every SLO dashboard. Exact
    `percentile` (sort-based; the GK-sketch path is `sketch_quantiles`),
    unrounded: both engines interpolate the same two order statistics on
    identical inputs, bit-identically (the `ts_rolling_median` parity
    argument)."""
    p = F.expr("percentile(value, array(0.5, 0.95, 0.99))")
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            p.getItem(0).alias("p50"),
            p.getItem(1).alias("p95"),
            p.getItem(2).alias("p99"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )


@query(bench=True)
def _q_cube_profile(spark, sf_dir):
    """OLAP CUBE over (event_type, day-of-week): all four grouping sets —
    cell, per-type subtotal, per-dow subtotal, grand total — in ONE
    aggregate pass (Spark expands the sets map-side; a UNION of four
    groupBys would scan four times). Subtotal keys surface as the 'ALL' /
    -1 sentinels (both grouping columns are non-null, so coalesce is
    unambiguous). Exact integer-cent sums; oracle is DuckDB's native
    GROUP BY CUBE."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        _cents().alias("_cents"),
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_cents").alias("sum_cents"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type_g"),
            F.coalesce("dow", F.lit(-1)).cast("int").alias("dow_g"),
            "n",
            "sum_cents",
        )
    )


@query(bench=True)
def _q_hopping_window(spark, sf_dir):
    """Hopping (sliding) window aggregate: per event_type, count and exact
    integer-cent sum over 1-hour windows sliding every 15 minutes — the
    overlapping-window primitive tumbling tiers can't express (each event
    lands in exactly windowDuration/slide = 4 windows). Spark's native
    ``window(ts, '1 hour', '15 minutes')`` expands the assignment
    map-side; the DuckDB oracle replays the same epoch-aligned grid with
    an explicit 4-hop fan-out."""
    ev = _events(spark, sf_dir).select(
        "ts",
        "event_type",
        _cents().alias("_cents"),
    )
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_cents").alias("sum_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )


@query(bench=True)
def _q_rank_functions(spark, sf_dir):
    """The SQL ranking-function surface in one query: rank, dense_rank,
    percent_rank, cume_dist, ntile(4) over the per-type hourly count
    series, ordered by (n DESC, bucket_ts ASC) — a total order (bucket_ts
    is unique per type), so every function is deterministic and the
    doubles (percent_rank's (rank-1)/(n-1), cume_dist's peers/n) are the
    same two-integer division in both engines — bit-identical,
    unrounded."""
    per = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("bucket_ts")
    )
    return per.select(
        "event_type",
        "bucket_ts",
        "n",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(bench=True)
def _q_sliding_distinct(spark, sf_dir):
    """EXACT trailing-24h distinct users per (event_type, hourly slide) —
    the 'active users in the last day, refreshed hourly' dashboard query.
    Spark's native sliding window(ts, '24 hours', '1 hour') assigns each
    event to its 24 covering windows map-side, then one countDistinct.
    Honest scale note in-code: this fans every event out 24x; the
    production path is sliding_distinct_sketch (zero fan-out, HLL tier +
    range-frame union — the rows-only twin query). Oracle: DuckDB replays
    the same epoch-aligned 24-hop fan-out."""
    ev = _events(spark, sf_dir).select("ts", "event_type", "user_id")
    return (
        ev.groupBy(
            F.window("ts", "24 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_users",
            "n_events",
        )
    )


@query(bench=True)
def _q_sliding_distinct_sketch(spark, sf_dir):
    """The 100-TB path for trailing-window cardinality
    (operators/sketch_tiers.py sliding_distinct_sketch): hourly HLL
    sketches built once, trailing-24h estimate = one RANGE-frame
    hll_union_agg over 24 tier rows — ZERO event fan-out where the exact
    form replicates every event 24x before a distinct shuffle (HLL union
    is register-wise max, so the window union of hourly sketches IS the
    sketch of the hour union; gap hours need no fill — the range frame is
    value-defined). Rows-only, SELF-VERIFYING: ``sketch_ok`` joins each
    estimate to the exact trailing distinct (computed in-query via the
    fan-out form) and asserts |est - exact| <= 5*rsd*exact with absolute
    floor 2."""
    ev = _events(spark, sf_dir).select("ts", "event_type", "user_id")
    est = sliding_distinct_sketch(
        ev, ["event_type"], "user_id", window_hours=24
    )
    exact = (
        ev.groupBy(
            F.window("ts", "24 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .select(
            F.col("w.end").alias("_we"), "event_type", "n_exact"
        )
    )
    # sketch row at hour h covers (h+1h-24h, h+1h] == exact window ending h+1h
    return (
        est.withColumn(
            "_we", F.col("bucket_ts") + F.expr("interval 1 hour")
        )
        .join(exact, ["event_type", "_we"])
        .select(
            "event_type",
            "bucket_ts",
            "distinct_est",
            "n_exact",
            (
                F.abs(F.col("distinct_est") - F.col("n_exact"))
                <= F.greatest(
                    F.lit(5 * hll_rsd(HLL_LG_K)) * F.col("n_exact"),
                    F.lit(2.0),
                )
            ).alias("sketch_ok"),
        )
        .orderBy("event_type", "bucket_ts")
    )


@query(bench=True)
def _q_weekly_profile(spark, sf_dir):
    """Weekly seasonal profile: per (event_type, day-of-week, hour-of-day)
    cell — event count, exact-integer mean value (cents), and share of
    the type's weekly total. The dashboard heatmap behind every 'when do
    users do X' question; one hash aggregate plus a broadcast of 5 type
    totals. Integer cents make the mean exact; the share is one division
    of two exact integers, bit-identical cross-engine."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        _cents().alias("_cents"),
    )
    cells = ev.groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_cents").alias("_sum_cents"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n").alias("_total")
    )
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "dow",
        "hod",
        "n",
        (F.col("_sum_cents").cast("double") / F.col("n") / 100.0).alias(
            "mean_value"
        ),
        (F.col("n").cast("double") / F.col("_total")).alias("share"),
    )


@query(bench=True)
def _q_top_users_per_hour(spark, sf_dir):
    """Windowed top-k: the 3 most active users per hour (rank over a
    per-hour count, deterministic user_id tie-break). The heavy-hitters
    primitive every abuse/ops dashboard runs; one aggregate + one
    window over the aggregated (small) per-hour user counts — the rank
    never touches raw events."""
    per = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("bucket_ts").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return (
        per.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("bucket_ts", F.col("rank").cast("int").alias("rank"),
                "user_id", "n_events")
    )


@query(bench=True)
def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event stream (30-minute gap): the
    relational window+agg form; its streaming applyInPandasWithState twin is
    equivalence-tested in tests/test_sessions.py."""
    return sessionize(
        _events(spark, sf_dir), gap="30 minutes", group_col="user_id",
        order_col="event_id", value_col="value",
    )


@query()
def _q_conversation_stats_skew(spark, sf_dir):
    """Salted two-phase aggregation (skew handling for long conversations),
    proven exact against a plain GROUP BY oracle. Events stand in as
    transcripts: conv_id=event_type (few huge groups = worst-case skew)."""
    tx = _events(spark, sf_dir).select(
        F.col("event_type").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("value") > 0.5, F.lit("t")).alias("tool"),
        "ts",
    )
    return conversation_stats(tx, n_salts=16)


def _skewed_events(spark, sf_dir):
    """Events with a PLANTED power-law key: every user with user_id%5==0
    is remapped to one hot key (-1), concentrating ~20% of all events on a
    single grouping/window key — the skew shape a 100x scale-up produces
    (one mega-customer, one runaway agent conversation). Deterministic and
    expressed identically in the DuckDB oracles."""
    return _events(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("user_id") % 5 == 0, F.lit(-1).cast("bigint"))
        .otherwise(F.col("user_id")),
    )


@query(bench=True)
def _q_sessionize_skewed(spark, sf_dir):
    """Gap-based sessionization under planted ~20%-hot-key skew
    (`_skewed_events`): the hot key's merged timeline stresses the per-key
    window sort, and the result must stay oracle-exact. Values are
    quantized to integer cents BEFORE the session aggregate so the hot
    sessions' big sums stay order-free and bit-identical cross-engine.
    tests/test_plans.py pins the skew-robustness plan properties (AQE
    skew-split on the shuffle, map-side partial agg)."""
    ev = _skewed_events(spark, sf_dir).withColumn("value", _cents())
    out = sessionize(
        ev, gap="30 minutes", group_col="user_id",
        order_col="event_id", value_col="value",
    )
    return out.withColumnRenamed("total_value", "total_cents")


@query(bench=True)
def _q_user_profile_skewed(spark, sf_dir):
    """Per-user lifetime profile under planted ~20%-hot-key skew: same
    aggregate as `user_profile` over `_skewed_events`. Exactness under
    skew comes from map-side partial aggregation — the hot key is
    pre-combined inside every input partition before the ONE exchange, so
    the reducer receives at most n_partitions rows for it (asserted on
    the plan in tests/test_plans.py)."""
    return _user_profile(_skewed_events(spark, sf_dir))


@query(bench=True)
def _q_winsorize_values(spark, sf_dir):
    """Per-type winsorization of event values (operators/featureprep.py
    winsorize) — robust feature scaling that clamps the integer-cent
    values at the exact per-group order statistics of ranks
    ceil(0.05*n) and ceil(0.95*n) over the (cents, event_id) total
    order. Order statistics (not interpolated percentiles — engines
    disagree on interpolation conventions) with pure-integer rank
    arithmetic make the whole result hash-exact cross-engine. One
    exchange for the rank window; bounds reduce to one row per group
    and come back via a broadcast join, so the clamp is map-side.
    """
    ev = _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        _cents().alias("cents"),
    )
    return winsorize(
        ev, value_col="cents", group_col="event_type", id_col="event_id"
    ).orderBy("event_type", "event_id")


@query(bench=True)
def _q_drift_psi(spark, sf_dir):
    """Population Stability Index drift detection per event_type: the
    value distribution of the FIRST time-half of the stream against the
    SECOND (banking's standard score for "did this feature's
    distribution move"; PSI < 0.1 stable, > 0.25 shifted). The
    monitoring primitive a training-data pipeline runs between corpus
    snapshots before trusting a refresh.

    ORACLE-CHECKED end-to-end by the integer-sufficient-statistics
    discipline: the split point is exact integer epoch-micros midpoint
    (floor division), bin counts are exact ints, each bin's
    (p - q) * ln(p / q) term — add-1 smoothed so one-sided bins are
    finite — is quantized ONCE to micro-units from an identical
    left-to-right expression in both engines, and the per-type PSI is
    then an exact order-free BIGINT sum. One scan, one (type, bin)
    hash aggregate, window totals over the tiny bin table."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value") / 10).cast("int").alias("bin"),
        # parquet ts is TIMESTAMP_NTZ; session is pinned UTC so the
        # cast is a type relabel, not a wall-clock shift
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
    )
    lo, hi = ev.agg(F.min("e"), F.max("e")).first()
    mid = (int(lo) + int(hi)) // 2  # exact; DuckDB twin uses // too
    cnt = ev.groupBy("event_type", "bin").agg(
        F.sum((F.col("e") <= mid).cast("long")).alias("nb"),
        F.sum((F.col("e") > mid).cast("long")).alias("na"),
    )
    w = Window.partitionBy("event_type")
    t = cnt.select(
        "event_type",
        "nb",
        "na",
        F.sum("nb").over(w).alias("tnb"),
        F.sum("na").over(w).alias("tna"),
        F.count(F.lit(1)).over(w).alias("b"),
    )
    p = (F.col("nb") + 1) / (F.col("tnb") + F.col("b"))
    q = (F.col("na") + 1) / (F.col("tna") + F.col("b"))
    term = F.round((p - q) * F.log(p / q) * 1e6).cast("bigint")
    return (
        t.select("event_type", "nb", "na", term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("nb").alias("n_before"),
            F.sum("na").alias("n_after"),
            F.sum("term").alias("psi_micro"),
        )
    )


@query(designed_bnl=True)
def _q_transcript_rollup_1m(spark, sf_dir):
    """Self-verifying rows-only check: every row carries ``invariant_ok`` =
    (sum of tier turns == raw turn count) — the rollup cannot pass the
    driver's rows-only gate on garbage values."""
    tx = transcripts_df(spark, 200, seed=42)
    tier = rollup.rollup_once(activity.activity_raw(tx), "1m")
    # tier total via a global window keeps the tier lineage single-pass;
    # the raw count is a separate (cheap, deterministic-generator) lineage
    raw_n = tx.agg(F.count(F.lit(1)).alias("_raw_turns"))
    w = Window.partitionBy()
    return tier.crossJoin(F.broadcast(raw_n)).select(
        "conv_id", "bucket_ts", "turns", "chars", "tool_calls",
        (F.sum("turns").over(w) == F.col("_raw_turns")).alias("invariant_ok"),
    )
