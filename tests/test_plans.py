"""Physical-plan regression tests: the properties that make the engine
viable at 100 TB (scan pushdown + pruning, broadcast dimension joins,
map-side partial aggregation, single-shuffle UDF stages) asserted against
``explain`` output so they cannot silently regress.
"""

import os

import numpy as np
import pytest

from tests import electricity_inputs as ei
from tests.test_translation_spectrum import lsqr_residues

SF_DIR = os.environ.get("SPARK_GRAFT_SF001_DIR", "/root/testdata/sf0.01")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"driver testdata not present at {SF_DIR}",
)


def _plan(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    modes = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jdf.queryExecution().explainString(modes.fromString(mode))


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


def test_filter_pushdown_and_column_pruning(spark, queries):
    plan = _plan(queries["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 6 needed columns reach the scan — no l_orderkey/l_comment/...
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read and "l_orderkey" not in read
    assert read.count(":") >= 6


def test_dimension_joins_broadcast(spark, queries):
    """nation (25 rows, fixed forever) is pinned broadcast; customer
    SCALES with sf, so its join is deliberately NOT pinned — at gate
    scale AQE/Catalyst still picks broadcast from the measured size, and
    at 100 TB the same plan degrades gracefully to a shuffle join
    instead of OOMing the driver (the 10x run showed the pinned
    broadcast's single-threaded build dominating the wall)."""
    plan = _plan(queries["nation_revenue"](spark, SF_DIR))
    # formatted explain prints each node in the tree and the detail section
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_rollup_partial_aggregation(spark, queries):
    # two-level HashAggregate = map-side combine before the shuffle
    plan = _plan(queries["activity_1m"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read and "user_id" not in read


def test_shingle_pipeline_no_inferred_filter(spark):
    """Exploding the gram array through a NAMED column lets Catalyst's
    InferFiltersFromGenerate push a size()>0 predicate below the
    repartition with the words alias substituted back to an inline
    split(normalized(text)) per lambda element — O(len^2) per doc in the
    scan task (measured 4x the signature stage). Pin the filter-free
    shape."""
    from wavelet_decomposition_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        dedup.word_shingles(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Filter" not in plan


def _reference_inputs(monkeypatch):
    """Where the reference workbook is absent, point the wavelet query
    builders at tests/electricity_inputs.py's synthetic stand-ins, through a
    fresh ``_GOLDEN_CACHE`` so no synthetic golden frame outlives the
    test."""
    if os.path.exists(ei.WORKBOOK):
        return
    from wavelet_decomposition_spark.io import reference_data as rd
    from wavelet_decomposition_spark.queries import wavelet

    monkeypatch.setattr(wavelet, "electricity_df", ei.electricity_df)
    monkeypatch.setattr(wavelet, "load_translations", ei.load_translations)
    monkeypatch.setattr(rd, "load_translations", ei.load_translations)
    monkeypatch.setattr(wavelet, "load_prepared_signal", ei.load_prepared_signal)
    monkeypatch.setattr(rd, "load_golden_betas_long", ei.load_golden_betas_long)
    monkeypatch.setattr(wavelet, "_GOLDEN_CACHE", {})


def test_invariant_queries_single_lineage(spark, queries, monkeypatch):
    """The self-verifying driver queries must compute their invariant as a
    window aggregate over ONE lineage: referencing the solve/pyramid
    DataFrame from two plan branches (agg + crossJoin back) recomputes the
    whole expensive lineage twice — full_decomposition re-ran all 21 LSQR
    solves (round-3 fix). Pin the Python-stage counts: one resample + one
    decompose FlatMapGroupsInPandas per dictionary-shape branch (the
    energy queries' single pyramid stage is pinned by
    test_wavelet_queries_leave_no_storage). The builders read the reference
    workbook, translation pickles and betas workbooks while they build,
    or their stand-ins (``_reference_inputs``). Only plans are explained,
    so the golden values never matter."""
    _reference_inputs(monkeypatch)
    # full: square branch (resample+decompose) + sine branch = 4 stages
    plan = _plan(queries["full_decomposition"](spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 4
    # single shape: exactly 2 (resample + decompose)
    plan = _plan(queries["wavelet_betas_sine"](spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 2
    # 3 = resample twice (it feeds both the solve and the signal side of
    # the error join — a cheap np.interp pass) + ONE decompose solve stage
    plan = _plan(queries["reconstruction_relational"](spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 3
    # roundtrip UDF form: resample twice (solve input + the signal side of
    # the error join, a cheap np.interp pass) + ONE decompose + ONE
    # reconstruct = 4; a double-referenced betas branch would show 5+
    plan = _plan(queries["reconstruction_roundtrip"](spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 4
    # heatmap: resample twice + ONE decompose + ONE per-scale stage = 4
    # (explicit pivot values — no eager distinct job at plan time)
    plan = _plan(queries["heatmap_scales"](spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 4
    # full E3: exactly one sweep (MapInPandas) per mother family, and the
    # golden shifts are literals: no Python-RDD scan broadcast into a join
    plan = _plan(queries["translation_full"](spark, SF_DIR), "simple")
    assert plan.count("MapInPandas") == 3
    assert "BroadcastExchange" not in plan and "ExistingRDD" not in plan


def test_e1_reconstruction_invariants_hold(spark, queries, monkeypatch):
    """The three E1 reconstruction queries, built and collected: every
    row's ``invariant_ok`` (the reconstruction fits the input signal to the
    damped-LSQR bound) is true. Their inputs are the same as in
    ``test_invariant_queries_single_lineage``."""
    _reference_inputs(monkeypatch)
    for name in ("reconstruction_roundtrip", "heatmap_scales",
                 "reconstruction_relational"):
        rows = queries[name](spark, SF_DIR).select("invariant_ok").collect()
        assert len(rows) == 365 * 64, name
        assert all(r.invariant_ok for r in rows), name


def test_e3_translation_queries_collect(spark, queries, monkeypatch):
    """translation_search and translation_full, built and collected on the
    inputs of ``test_invariant_queries_single_lineage``: one row per
    circular shift of each family, and each family's minimum residue is
    the LSQR brute force's residue at that shift. The golden translations
    belong to the reference signal, so ``invariant_ok`` is then checked
    against golden shifts set to each family's argmin plus its tie
    modulus: it must hold on every row."""
    from wavelet_decomposition_spark.queries import wavelet

    _reference_inputs(monkeypatch)
    sig = wavelet.load_prepared_signal("Consumption", 2012)
    n = sig.size
    search = queries["translation_search"](spark, SF_DIR).toPandas()
    full = queries["translation_full"](spark, SF_DIR).toPandas()
    assert (len(search), len(full)) == (n, 3 * n)
    best = {}
    for fam, pdf in [("year", search), *full.groupby("family")]:
        assert sorted(pdf["shift"]) == list(range(n)), fam
        row = pdf.loc[pdf["residue"].idxmin()]
        want = lsqr_residues(sig, fam, "square", 365, 64, [row["shift"]])
        np.testing.assert_allclose(row["residue"], want, rtol=1e-12, err_msg=fam)
        best[fam] = int(row["shift"])
    golden = [best["day"] + 64, best["week"], (best["year"] + n // 2) % n]
    monkeypatch.setattr(wavelet, "load_translations", lambda shape: [golden])
    ok = queries["translation_full"](spark, SF_DIR).select("invariant_ok")
    assert all(r.invariant_ok for r in ok.collect())


def test_solve_stage_not_coalesced(spark, queries):
    """The LSQR solve stage must keep one task per (series, year) group:
    a solve group is ~700 KB of rows but ~2 s of CPU, and AQE's byte-based
    partition coalescing packed the full E1's 21 solves into THREE tasks
    (measured 11.7 s vs 3.2 s spread). decompose() pins the width with an
    explicit repartition (REPARTITION_BY_NUM — exempt from coalescing) that
    the groupBy reuses; assert the executed distribution stays one group
    per task and that no extra exchange appeared."""
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators import decompose as dec
    from wavelet_decomposition_spark.operators import series as ser
    from wavelet_decomposition_spark.operators.resample import resample_per_year

    years = [2012, 2013, 2014]
    df = ei.electricity_df(spark, signals=["Consumption"], years=years)
    df = ser.leap_trim(df, 48 * 365)
    df = ser.normalize_yearly_mean(df)
    df = resample_per_year(df, 48, 64, 365)
    trans = ei.load_translations("square")
    bc = dec.broadcast_dictionaries(
        spark, "square", {y: trans[y - 2012] for y in years}
    )
    betas = dec.decompose(df, bc)
    sizes = betas.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len(sizes) == len(years)  # one task per (series, year) group
    assert all(r["count"] == 23423 for r in sizes)
    plan = _plan(betas, "simple")
    assert plan.count("Exchange") == 2  # resample's + the solve repartition


def _build_and_run_twice(spark, build, name):
    """Build ``build()`` under a job group and collect it, twice, from a
    session with no cached plan. Per run: the frame, the plan that ran
    (AQE's final plan, not its initial one), the build group's job names,
    the ids of the persistent RDDs the run added, and whether the
    CacheManager is empty. Frees every persistent RDD the runs left."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # frames other tests cached
    start = set(sc._jsc.getPersistentRDDs().keys())
    runs = []
    try:
        for i in range(2):
            before = set(sc._jsc.getPersistentRDDs().keys())
            group = f"build:{name}:{i}"
            sc.setJobGroup(group, group)
            try:
                df = build()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan()
            if plan.nodeName() == "AdaptiveSparkPlan":
                plan = plan.executedPlan()
            jobs = [
                store.job(j).name()
                for j in sc.statusTracker().getJobIdsForGroup(group)
            ]
            added = set(sc._jsc.getPersistentRDDs().keys()) - before
            runs.append((df, plan.toString(), jobs, added, cm.isEmpty()))
    finally:
        for rdd_id, rdd in sc._jsc.getPersistentRDDs().items():
            if rdd_id not in start:
                rdd.unpersist(True)
    return runs


def _checkpoints_read(df) -> set:
    """Ids of the RDDs behind the ``LogicalRDD`` leaves of ``df``'s plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


@pytest.mark.parametrize(
    "name",
    ["dwt_energy", "modwt_energy", "wpt_energy", "dwt_denoise",
     "tier_wavelet_parity", "entry"],
)
def test_wavelet_queries_leave_no_storage(spark, queries, name):
    """The wavelet queries hand the sparse tier and its grid step straight
    to the operators: no gap-filled grid is built and none is cached.
    Building and running one leaves no persistent RDD behind, on every
    repeat. tier_wavelet_parity's builder only builds: it runs no Spark job
    and its plan reads no cached relation. The energy and denoise queries
    run exactly one Python stage, read no cached relation and explode no
    grid ``sequence``."""
    import __spark_entry__ as entrymod

    build = (
        (lambda: entrymod.entry(spark)) if name == "entry"
        else (lambda: queries[name](spark, SF_DIR))
    )
    for _df, plan, jobs, added, _ in _build_and_run_twice(spark, build, name):
        assert not added
        if name != "entry":
            assert "InMemoryRelation" not in plan
        if name == "tier_wavelet_parity":
            assert jobs == []
        elif name != "entry":
            assert plan.count("FlatMapGroupsInPandas") == 1
            assert not [
                ln for ln in plan.splitlines()
                if "Generate" in ln and "sequence(" in ln
            ]


@pytest.mark.parametrize(
    "name",
    ["bm25_topk", "weighted_sample", "pelt_changepoints", "matrix_profile",
     "conversation_forks", "kmeans_clusters", "pca_embeddings",
     "cms_heavy_hitters", "dtw_pairs", "holt_winters"],
)
def test_queries_cache_nothing(spark, queries, name):
    """Building and running a query registers nothing with the
    CacheManager, so no later query or repeat can read its plans: after
    each of two builds and collects the CacheManager is empty and the
    executed plan reads no cached relation. The checks that read a frame
    the rows also read are window aggregates over one lineage, so these
    builders run no job of their own (the one job of a
    ``spark.read.parquet`` is Spark's schema read). A run leaves no
    persistent RDD but the checkpoint cms_heavy_hitters' answer reads:
    its operator's partials are released once that checkpoint is built."""
    runs = _build_and_run_twice(
        spark, lambda: queries[name](spark, SF_DIR), name
    )
    for df, plan, jobs, added, cache_empty in runs:
        assert cache_empty
        assert "InMemoryRelation" not in plan
        if name in ("pelt_changepoints", "conversation_forks", "dtw_pairs",
                    "holt_winters"):
            assert not [j for j in jobs if not j.startswith("parquet at ")]
        if name == "cms_heavy_hitters":
            assert added == _checkpoints_read(df) and len(added) == 1
        else:
            assert not added


@pytest.mark.parametrize(
    "op",
    ["dwt_windows", "energy_windows", "denoise_windows", "encode_blocks",
     "decode_blocks"],
)
def test_wavelet_stage_single_shuffle(spark, op):
    """Every bucketed Python stage (wavelet_ops.bucketed_apply) adds exactly
    one exchange (the bucket repartition); the groupBy reuses that
    clustering instead of shuffling again."""
    from wavelet_decomposition_spark.io.transcripts import transcripts_df
    from wavelet_decomposition_spark.operators import (
        activity, compress, rollup, wavelet_ops,
    )

    src = rollup.rollup_once(
        activity.activity_raw(transcripts_df(spark, 20, seed=3)), "1m"
    )
    if op == "encode_blocks":
        out = compress.encode_blocks(src, ["turns"])
    elif op == "decode_blocks":
        src = compress.encode_blocks(src, ["turns"])
        out = compress.decode_blocks(src, ["turns"])
    else:
        out = getattr(wavelet_ops, op)(
            src, "turns", levels=3, window_len=64, sparse_fill_step="1 minute"
        )
    base = _plan(src, "simple")
    plan = _plan(out, "simple")
    assert plan.count("Exchange") == base.count("Exchange") + 1
    assert (
        plan.count("FlatMapGroupsInPandas")
        == base.count("FlatMapGroupsInPandas") + 1
    )
    # pre-UDF projection: unused tier columns must not ride the shuffle into
    # the Python stage (Catalyst cannot prune into grouped-map UDFs itself)
    assert "chars" not in plan and "tool_calls" not in plan
    if op == "dwt_windows":
        # the per-coefficient fan-out must stay JVM-side: a Generate
        # (posexplode) node ABOVE the single Python stage
        assert "Generate" in plan


@pytest.mark.slow
def test_no_undesigned_nested_loop_joins_anywhere(spark):
    """Full-surface sweep (the pytest form of tools/plan_audit.py): plan
    every driver query at sf0.001 and assert no BroadcastNestedLoopJoin /
    CartesianProduct outside the queries marked ``designed_bnl`` — the
    one plan regression that silently turns a scale path quadratic. A
    query marked ``designed_bnl`` whose plan has no such join fails too,
    so the marks cannot go stale."""
    import re

    import __spark_entry__ as entrymod

    offenders, stale = {}, []
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = len(
            re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        )
        if n and not fn.designed_bnl:
            offenders[name] = n
        if fn.designed_bnl and not n:
            stale.append(name)
    assert not offenders, offenders
    assert not stale, f"designed_bnl but no nested-loop join: {stale}"


def test_skewed_profile_partial_aggregation(spark, queries):
    """user_profile_skewed plants ~20% of events on one key; the agg stays
    exact and fast because the hot key is pre-combined map-side — the
    two-level HashAggregate must be present, and the scan must not read
    the wide props column."""
    plan = _plan(queries["user_profile_skewed"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read


def test_aqe_skew_join_split_engages(spark, tmp_path):
    """The 100x-scale behavior none of the uniform fixtures exercises:
    plant the ~20%-hot-key skew on a shuffle join and assert AQE's
    skew-join optimization actually SPLITS the hot partition (the
    executed SortMergeJoin is marked skew=true) while the result stays
    exact. Thresholds are lowered to make the gate-scale fixture look
    like the 100-TB shape; on a real cluster the defaults (256 MB)
    engage the same rewrite.

    Two structural preconditions this test documents (both bit us):
    - a skewed reducer partition is split by MAPPER ranges, so the
      upstream stage needs >1 map task — a single small parquet file
      scans as one task and nothing can split (hence repartition(16));
    - OptimizeSkewedJoin pattern-matches SMJ(Sort(ShuffleStage),
      Sort(ShuffleStage)) EXACTLY — an aggregate between the right
      shuffle and the sort blocks the rewrite, so the dim side is
      materialized to parquet first (on a real pipeline the dim is a
      table already)."""
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .repartition(16)
        .withColumn(
            "user_id",
            F.when(F.col("user_id") % 5 == 0, F.lit(-1).cast("bigint"))
            .otherwise(F.col("user_id")),
        )
    )
    dim_path = str(tmp_path / "dim")
    ev.groupBy("user_id").count().write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # the executed plan must be read from the SAME QueryExecution the
        # action ran (df.count()/df.write plan a fresh Dataset, leaving
        # j's own adaptive plan isFinalPlan=false with no skew marks), so
        # collect through an aggregate DataFrame and inspect THAT one.
        # The aggregate reads props so column pruning can't shrink the
        # shuffled rows to a lone bigint (which would drop the hot
        # partition below the skew threshold and merely coalesce).
        jc = (
            ev.join(dim, "user_id")
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("props")).alias("b"),
            )
        )
        row = jc.collect()[0]
        plan = jc._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert row["n"] == ev.count()  # every key in dim: no row lost
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_bytes_pinned_thresholds(spark, queries):
    """Volume regression pins (plan-audit's systematic check, frozen here
    for two representative queries): exchange counts can stay flat while
    per-row shuffle payload balloons (round 3: shuffling raw string
    shingle arrays instead of 8-byte hashes tripled bytes with an
    identical plan shape). Bounds are ~2x the measured sf0.01 volume."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_audit import run_query_measured

    w, r, _ = run_query_measured(
        spark, "pin_minhash", queries["minhash_pairs"](spark, SF_DIR)
    )
    assert w < 120 * 1024 * 1024, f"minhash_pairs shuffle write {w}"
    w2, r2, _ = run_query_measured(
        spark, "pin_activity", queries["activity_1m"](spark, SF_DIR)
    )
    assert w2 < 8 * 1024 * 1024, f"activity_1m shuffle write {w2}"


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime row-level Bloom-filter injection (Spark 3.3+): a selective
    dimension side plants a bloom filter on the fact side's scan so
    non-joining fact rows die BEFORE the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~matching fraction. Thresholds lowered to make the gate-scale fixture
    eligible; on a real cluster the defaults engage the same rewrite."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        hot = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_orderdate")
        )
        j = li.join(hot, li.l_orderkey == hot.o_orderkey)
        # injection is a logical-optimizer rewrite: the fact side gains a
        # might_contain(bloom_filter_agg(dim keys)) filter ABOVE its scan
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt[:2000]
        assert "bloom_filter_agg" in opt, opt[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
