import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_addoption(parser):
    parser.addoption(
        "--run-slow",
        action="store_true",
        default=False,
        help="run slow golden-parity tests (full 21 series-year sweep)",
    )


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running golden parity sweeps")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--run-slow"):
        return
    skip = pytest.mark.skip(reason="needs --run-slow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from wavelet_decomposition_spark.plans.session import build_session

    s = build_session(app_name="wds-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def rdds_left(spark):
    """``count(run)``: how many persistent RDDs ``run()`` leaves behind, as
    the ids after it minus the ids before it (so the cleaner reclaiming
    older RDDs meanwhile cannot hide one). It releases what it counted."""
    sc = spark.sparkContext

    def count(run):
        before = set(sc._jsc.getPersistentRDDs().keys())
        run()
        left = {k: v for k, v in sc._jsc.getPersistentRDDs().items() if k not in before}
        for rdd in left.values():
            rdd.unpersist(True)
        return len(left)

    return count
