"""bench.py without a JVM: the warm-median rule, the query order, and
the name check that runs before any session starts."""

from __future__ import annotations

import pytest

import bench
from eecs485_p4_mapreduce_spark.plans import REGISTRY


@pytest.mark.parametrize(
    "runs, want",
    [
        ([5.0], 5.0),  # a single run is its own median
        ([9.0, 2.0], 2.0),  # the cold first run never counts
        ([9.0, 2.0, 4.0], 3.0),  # an even warm count averages the middle pair
        ([9.0, 2.0, 6.0, 4.0], 4.0),
    ],
)
def test_warm_median(runs, want):
    assert bench.warm_median(runs) == want


def test_bench_queries_follow_registry_order():
    assert bench.BENCH_QUERIES == [n for n in REGISTRY if n not in bench.BENCH_EXCLUDE]


def test_unknown_query_exits_before_session(monkeypatch):
    def no_session(*args, **kwargs):
        raise AssertionError("get_spark called before the names were checked")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        bench.main(["q1_pricing_summary", "no_such_query"])
    assert exc.value.code != 0
