"""``await_drain``: a drain that does not finish in time is stopped and
fails its caller instead of leaving a query running over partial output."""

import pytest
from pyspark.errors import StreamingQueryException

from wavelet_decomposition_spark.streaming import await_drain


class _StubQuery:
    """Stands in for a ``StreamingQuery``: ``awaitTermination`` returns
    ``result`` (or raises it, if it is an exception); ``stop`` is
    counted."""

    def __init__(self, result):
        self.result = result
        self.timeouts = []
        self.stops = 0

    def awaitTermination(self, timeout=None):
        self.timeouts.append(timeout)
        if isinstance(self.result, BaseException):
            raise self.result
        return self.result

    def stop(self):
        self.stops += 1


def test_timed_out_drain_is_stopped_and_raises():
    q = _StubQuery(False)
    with pytest.raises(TimeoutError):
        await_drain(q, 7)
    assert q.timeouts == [7]
    assert q.stops == 1


def test_finished_drain_returns_without_stop():
    q = _StubQuery(True)
    assert await_drain(q, 7) is None
    assert q.timeouts == [7]
    assert q.stops == 0


def test_failed_drain_propagates_its_exception():
    err = StreamingQueryException(message="micro-batch failed")
    q = _StubQuery(err)
    with pytest.raises(StreamingQueryException) as info:
        await_drain(q, 7)
    assert info.value is err
    assert q.stops == 0
