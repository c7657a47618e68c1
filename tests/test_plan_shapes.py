"""Pinned pre-execution plan shapes the bench walls depend on (sf0.001,
the 4-core / 8-partition test session). A count that moves means a plan
rule or an operator change re-planned the query: re-measure the bench
leaf before updating the pin."""

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> list[str]:
    import __spark_entry__ as e

    df = e.bench_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _count(lines: list[str], pattern: str) -> int:
    return sum(re.search(pattern, line) is not None for line in lines)


@pytest.mark.parametrize(
    "name, pattern, want",
    [
        # the finest level is checkpointed once: no rollup level rescans
        ("tile_pyramid_rollup", r"Scan parquet", 0),
        # features under the broadcast budget: the exact broadcast tail,
        # one broadcast of the features and one shuffle for the per-url top-k
        ("knn_cells", r"\bExchange ", 1),
        ("knn_cells", r"BroadcastExchange ", 1),
        # scan fan-out, the (doc, gram) count and the per-doc top-1
        ("top2gram", r"\bExchange ", 3),
    ],
)
def test_bench_plan_shape(spark, name, pattern, want):
    lines = _plan(spark, name)
    assert _count(lines, pattern) == want, "\n".join(lines)
