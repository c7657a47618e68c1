"""Connected components on an edges DataFrame (R3).

Replaces the reference's in-memory ``UndirectedGraph`` + DFS
(/root/reference/robosat/graph/core.py:4-104 — whose docstring itself flags
the memory wall) with iterative min-label propagation: each round every
node takes the min label over itself and its neighbors; converges in
O(log n) rounds on real geometry graphs (adjacency chains of merged
features are short). Each round is one shuffle; ``localCheckpoint``
truncates the growing lineage so round N+1 does not replay rounds 1..N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """edges(src, dst) undirected -> DataFrame(node, component).

    ``component`` is the minimum node id reachable; isolated self-loop
    edges (the reference adds ``add_edge(i, i)``,
    /root/reference/robosat/tools/merge.py:50) keep singletons present.

    Each round combines (a) one hop of neighbor-min propagation with
    (b) a pointer-doubling shortcut (label := label of my label), so label
    information travels 2^k hops after k rounds — O(log n) rounds even on
    adversarial path graphs, where plain one-hop propagation needs
    O(diameter) rounds (the SURVEY §7 convergence hazard).

    r7 plan trims (guide §2.3/§2.4): the symmetrization is a single
    explode pass over the edge lineage (the old two-branch union scanned
    — and computed — the upstream edge pipeline twice inside one job),
    and the fixpoint test is a join-free aggregate: labels only ever
    DECREASE under min-propagation, so the label sum (DECIMAL(38) — no
    wraparound at any node-id scale) strictly decreases iff any label
    changed; comparing one scalar per round replaces the old
    labels⋈new_labels shuffle join."""
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                    F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
        .distinct()
    )
    sym = sym.localCheckpoint(eager=True)
    conf_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # scale-adaptive round partitioning (r7, same rationale as
    # operators/graph.pagerank): each round shuffles label/edge-vector
    # data whose size the (already materialized) symmetrized edge set
    # bounds, so each round's group input is repartitioned to a count that
    # follows a cheap count of it; the session conf is only the cap
    n_part = max(1, min(conf_part, -(-sym.count() // 8192)))

    labels = sym.select(F.col("src").alias("node")).distinct().withColumn("component", F.col("node"))

    def label_sum(df):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # initial sum (identity labels — a cheap distinct over the pinned
    # edge set) so a first round that moves nothing already terminates
    prev_sum = label_sum(labels)
    for _ in range(max_iter):
        # (a) candidate labels: own label + each neighbor's label
        nbr = sym.join(
            labels.withColumnRenamed("node", "dst2"), sym["dst"] == F.col("dst2")
        ).select(F.col("src").alias("node"), "component")
        hop = (
            labels.unionByName(nbr)
            .repartition(n_part, "node")
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # (b) shortcut: follow my label's label (pointer doubling)
        parent = hop.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        new_labels = (
            hop.join(parent, hop["component"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        # fixpoint: monotone label sum unchanged -> no label moved
        new_sum = label_sum(new_labels)
        changed = new_sum != prev_sum
        prev_sum = new_sum
        labels = new_labels
        if not changed:
            break
    return labels


def component_sizes(labels: DataFrame) -> DataFrame:
    return labels.groupBy("component").agg(F.count("*").alias("size"))
