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


def _gate_plan(spark, name: str) -> list[str]:
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _tiles_plan(spark, which: str) -> list[str]:
    from robosat_spark.sources.fixtures import tiles

    return tiles(spark, which)._jdf.queryExecution().executedPlan().toString().splitlines()


@pytest.mark.parametrize(
    "plan, name",
    [(_plan, "pip_assign"), (_plan, "pip_assign_salted"), (_gate_plan, "halo_stitch"),
     (_plan, "bpe_merges"), (_tiles_plan, "parking"), (_tiles_plan, "csv")],
)
def test_driver_constant_tables_are_local_scans(spark, plan, name):
    # tables built on the driver travel in the plan as a LocalTableScan;
    # a Scan ExistingRDD re-reads a pickled Python RDD in every job
    lines = plan(spark, name)
    assert _count(lines, r"ExistingRDD") == 0, "\n".join(lines)


@pytest.mark.parametrize("name", ["pip_assign", "pip_assign_salted"])
def test_prefilter_broadcast_reads_a_local_table(spark, name):
    lines = _plan(spark, name)
    semi = [i for i, line in enumerate(lines) if re.search(r"BroadcastHashJoin .*LeftSemi", line)]
    assert len(semi) == 1, "\n".join(lines)
    # the build side is the last child: every line below the join that is
    # indented deeper than it, from its BroadcastExchange on
    depth = len(lines[semi[0]]) - len(lines[semi[0]].lstrip(" :+-"))
    below = []
    for line in lines[semi[0] + 1 :]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        below.append(line)
    build = next(i for i, line in enumerate(below) if "BroadcastExchange" in line)
    assert any("LocalTableScan [tile_id" in line for line in below[build:]), "\n".join(lines)
