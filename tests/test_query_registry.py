"""The driver contract's fixed surface and the query registry behind it:
``queries()`` names and order and the ``oracle_sql()`` text are pinned by
hash, every registered query is ordered exactly once, and a query leaves
the session's confs and shipped files as it found them."""

import hashlib
import json
import sys

import pytest

import __spark_entry__ as entrymod
from wavelet_decomposition_spark.queries import aqe_off, registry

QUERIES_SHA256 = (
    "3af9b6c75731958f298cc967ee7f4a7540745854bc0dec4412d7969ec61a8e3b"
)
ORACLE_SQL_SHA256 = (
    "622407ee6141a82ec76902de8e6f90c27b231165db8fe9398c85d18d4e33a373"
)


def test_queries_names_and_order_pinned():
    names = "\n".join(entrymod.queries())
    assert hashlib.sha256(names.encode()).hexdigest() == QUERIES_SHA256


def test_oracle_sql_text_pinned():
    oracles = entrymod.oracle_sql()
    assert len(oracles) == 96
    text = json.dumps(list(oracles.items()))
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SQL_SHA256


def test_every_registered_query_ordered_exactly_once():
    order = entrymod.QUERY_ORDER
    assert len(order) == len(set(order))
    assert sorted(order) == sorted(registry())


def test_registered_query_keeps_its_docstring():
    qs = entrymod.queries()
    assert all(fn.__doc__ for fn in qs.values())
    assert qs["pagerank"].__doc__.startswith("PageRank power iteration")


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """Tiny synthetic driver tables: the columns the queries below read."""
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("sf_tiny")
    spark.range(400).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_704_067_200) + F.col("id") * 97).alias(
            "ts"
        ),
        (F.col("id") % 7).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "view", "buy")]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        ((F.col("id") * 37) % 101 / 4.0).alias("value"),
    ).write.parquet(str(root / "events.parquet"))
    spark.range(60).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 9).alias("o_custkey")
    ).write.parquet(str(root / "orders.parquet"))
    spark.range(240).select(
        (F.col("id") % 60).alias("l_orderkey"),
        (F.col("id") % 11 + 100).alias("l_suppkey"),
    ).write.parquet(str(root / "lineitem.parquet"))
    words = ["the", "then", "there", "other", "rather", "theme", "ether"]
    spark.createDataFrame(
        [(i, " ".join(words[(i + j) % 7] for j in range(12)))
         for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(str(root / "documents.parquet"))
    return str(root)


def test_prep_ships_the_package_once(spark, sf_dir):
    qs = entrymod.queries()
    sc = spark.sparkContext
    qs["activity_1m"](spark, sf_dir).count()
    includes, path_len = list(sc._python_includes), len(sys.path)
    qs["rollup_1h"](spark, sf_dir).count()
    qs["activity_1m"](spark, sf_dir).count()
    assert sc._python_includes == includes
    assert len(sys.path) == path_len


@pytest.mark.parametrize(
    "name", ["pagerank", "bpe_vocab", "tier_wavelet_parity"]
)
def test_conf_window_queries_leave_session_confs_unchanged(
    spark, sf_dir, name
):
    """pagerank and bpe_vocab build under ``aqe_off`` and
    tier_wavelet_parity builds a lazy plan; each must leave the session's
    confs as it found them, also once its frame runs."""
    before = spark.conf.getAll
    df = entrymod.queries()[name](spark, sf_dir)
    assert spark.conf.getAll == before
    assert df.count() > 0
    assert spark.conf.getAll == before


def test_aqe_off_restores_on_exception_and_skips_when_false(spark):
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    with pytest.raises(RuntimeError):
        with aqe_off(spark):
            assert spark.conf.get(keys[0]) == "false"
            assert spark.conf.get(keys[1]) == "1"
            raise RuntimeError("inside the window")
    assert {k: spark.conf.get(k) for k in keys} == before
    with aqe_off(spark, when=False):
        assert {k: spark.conf.get(k) for k in keys} == before
