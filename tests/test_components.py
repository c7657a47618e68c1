"""Connected components: correctness + logarithmic-round convergence."""

import pyspark.sql.functions as F

from robosat_spark.operators.components import component_sizes, connected_components


def test_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "src LONG, dst LONG"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7}
    sizes = {r["component"]: r["size"] for r in component_sizes(connected_components(edges)).collect()}
    assert sizes == {1: 3, 5: 2, 7: 1}


def test_components_adversarial_path_converges(spark):
    """A 300-node path has diameter 299: one-hop propagation alone would
    need 299 rounds; pointer doubling must finish within max_iter=12
    (2^12 >> 300) and label every node with the chain minimum."""
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    labels = connected_components(edges, max_iter=12)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)


def test_components_two_chains_and_ring(spark):
    edges = [(i, i + 1) for i in range(100, 140)]          # chain A (min 100)
    edges += [(i, i + 1) for i in range(200, 260)]         # chain B (min 200)
    edges += [(300 + i, 300 + (i + 1) % 50) for i in range(50)]  # ring (min 300)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    sizes = {
        r["component"]: r["size"]
        for r in component_sizes(connected_components(df, max_iter=12)).collect()
    }
    assert sizes == {100: 41, 200: 61, 300: 50}


def test_graph_operators_leave_session_conf_alone(spark, monkeypatch):
    """connected_components and pagerank size their rounds per plan
    (repartition), never through the session-global shuffle conf."""
    import pathlib

    from pyspark.sql.conf import RuntimeConfig

    from robosat_spark.operators.graph import pagerank

    before = spark.conf.get("spark.sql.shuffle.partitions")
    writes = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6), (7, 7)], "src LONG, dst LONG")
    assert connected_components(edges).count() == 6
    assert pagerank(edges, num_iters=3).count() == 6
    assert writes == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    ops = pathlib.Path(__file__).resolve().parents[1] / "robosat_spark" / "operators"
    assert [p.name for p in ops.glob("*.py") if "conf.set(" in p.read_text()] == []
