"""SCD2 run-length version history + tier-store compaction."""

from datetime import datetime

from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.compact import compact_partitioned
from wavelet_decomposition_spark.operators.scd import changes_to_scd2


def _ts(d, h=0, m=0):
    return datetime(2024, 1, d, h, m)


def test_scd2_runs_and_intervals(spark):
    rows = [
        # u1: A A B A  -> 3 versions (A, B, A)
        ("u1", _ts(1), "A", 1),
        ("u1", _ts(2), "A", 2),
        ("u1", _ts(3), "B", 3),
        ("u1", _ts(4), "A", 4),
        # u2: single event -> one current version
        ("u2", _ts(5), "X", 5),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, attr string, i int")
    out = changes_to_scd2(df, "k", "attr", tiebreak="i").collect()
    u1 = sorted([r for r in out if r.k == "u1"], key=lambda r: r.version)
    assert [(r.version, r.attr, r.n_events) for r in u1] == [
        (1, "A", 2), (2, "B", 1), (3, "A", 1)]
    # half-open chaining: valid_to == next valid_from; last is current
    assert u1[0].valid_from == _ts(1) and u1[0].valid_to == _ts(3)
    assert u1[1].valid_to == _ts(4)
    assert u1[2].valid_to is None and u1[2].is_current
    assert not u1[0].is_current and not u1[1].is_current
    (u2,) = [r for r in out if r.k == "u2"]
    assert u2.version == 1 and u2.is_current and u2.n_events == 1


def test_scd2_null_attr_runs(spark):
    rows = [
        ("u", _ts(1), None, 1),
        ("u", _ts(2), None, 2),
        ("u", _ts(3), "A", 3),
        ("u", _ts(4), None, 4),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, attr string, i int")
    out = sorted(changes_to_scd2(df, "k", "attr", "i").collect(),
                 key=lambda r: r.version)
    assert [(r.version, r.attr, r.n_events) for r in out] == [
        (1, None, 2), (2, "A", 1), (3, None, 1)]


def test_scd2_tiebreak_determinism(spark):
    # two rows at the same ts: tiebreak column decides run order
    rows = [("u", _ts(1), "B", 2), ("u", _ts(1), "A", 1), ("u", _ts(2), "B", 3)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, attr string, i int")
    out = sorted(changes_to_scd2(df, "k", "attr", "i").collect(),
                 key=lambda r: r.version)
    assert [(r.attr, r.n_events) for r in out] == [("A", 1), ("B", 2)]


def test_scd2_single_shuffle(spark):
    """Hash partitioning on the key must satisfy the window, the (key,
    version, attr) aggregate, and the final window — one exchange total."""
    rows = [("u%d" % i, _ts(1 + i % 20), "A", i) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, attr string, i int")
    out = changes_to_scd2(df, "k", "attr", "i")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    # reused-exchange nodes also print "Exchange"; count real shuffles
    n_shuffles = plan.count("hashpartitioning")
    assert n_shuffles <= plan.count("Exchange")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_compact_binpacks_and_verifies(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    rows = [("k%d" % (i % 7), datetime(2024, 1, 1 + i % 3, i % 24), float(i))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "key string, bucket_ts timestamp, v double")
    # fragment the source: 16 writer tasks x 3 days -> ~48 small files
    (df.withColumn("day", F.to_date("bucket_ts")).repartition(16)
       .write.partitionBy("day").parquet(src))
    out = compact_partitioned(spark, src, dst, target_rows_per_file=400)
    got = {str(r.day): r for r in out.collect()}
    assert len(got) == 3
    for r in got.values():
        assert r.files_ok and r.rows_ok and r.checksum_ok, r
        assert r.files_after < r.files_before
        assert r.files_after == -(-r.rows // 400)
    assert sum(r.rows for r in got.values()) == 3000


def test_compact_detects_content_drift(spark, tmp_path):
    """If the destination does not match the source (simulated by
    compacting, then corrupting dst and re-verifying), checksum_ok flips."""
    from wavelet_decomposition_spark.operators.compact import _day_stats

    src = str(tmp_path / "src")
    rows = [("k", datetime(2024, 1, 1, i % 24), float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "key string, bucket_ts timestamp, v double")
    df.withColumn("day", F.to_date("bucket_ts")).write.partitionBy("day").parquet(src)
    drifted = str(tmp_path / "drift")
    (df.withColumn("v", F.col("v") + 1).withColumn("day", F.to_date("bucket_ts"))
       .write.partitionBy("day").parquet(drifted))
    a = _day_stats(spark, src).collect()[0]
    b = _day_stats(spark, drifted).collect()[0]
    assert a.rows == b.rows and a.checksum != b.checksum
