"""PageRank over a directed link graph — fixed-point, bit-reproducible.

The web-graph centrality primitive a Common-Crawl-scale corpus pipeline
uses to weight documents by link authority (crawl prioritization, quality
weighting, seed selection). Engine extra — the reference's only graph code
is the in-memory UndirectedGraph + DFS behind ``rs merge``
(/root/reference/robosat/graph/core.py:4-104); this is the directed,
weighted sibling of :mod:`.components`, built on the same iteration
conventions (localCheckpoint-truncated lineage per round).

Why FIXED-POINT: a floating-point PageRank is not reproducible — the
per-node incoming sum is order-dependent in IEEE doubles, so the same job
on 8 vs 1000 executors (or two runs on the same cluster) drifts in the
ulps, and K compounding iterations amplify that. Ranks here are int64
scaled by 1e9 ("ppb"); every operation is integer (+, SUM, DIV), so the
result is a deterministic function of the graph alone: identical across
partitionings, cluster sizes, engines. The DuckDB oracle twin replays the
identical integer arithmetic and matches bit-for-bit.

Semantics (per iteration, all integer, damping as the rational d_num/d_den):

    contrib(e)   = rank[src] DIV outdeg[src]            per edge
    dang         = SUM(rank[v] : outdeg[v] = 0)         redistributed
    rank'[v]     = ((d_den-d_num)*S DIV N) DIV d_den
                   + d_num*(insum[v] + dang DIV N) DIV d_den

with S = 1e9 the scale. Integer DIV floors, so a tiny mass deficit
accrues deterministically per round (bounded by (E+N+1)/1e9 of total
mass); ranks remain a valid ranking and sum to ~S within that bound.

Scale shape: the edge list (the 100 TB side) is joined on ``src`` every
round but NEVER re-shuffled — it is hash-partitioned by ``src`` once and
pinned by an eager localCheckpoint; each round shuffles only the N-row
rank vector to meet it, then one groupBy(dst) partial-aggregates
map-side. The dangling scalar attaches via a 1-row broadcast hash join
(pmod(hash,1) key — a lit key would constant-fold into a BNLJ cross).
One Spark job per iteration (the eager checkpoint), no driver collect in
the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**9


def _k(col):
    # data-derived always-0 never-NULL join key: survives constant folding
    # (lit(1) = lit(1) folds to true -> cross join -> BNLJ)
    return F.pmod(F.hash(col), F.lit(1))


def pagerank(
    edges: DataFrame,
    num_iters: int = 8,
    d_num: int = 85,
    d_den: int = 100,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """edges(src, dst) directed (duplicates = multi-edges) ->
    DataFrame(node, rank_ppb) for every node appearing as src or dst.

    ``rank_ppb`` is the fixed-point rank scaled by 1e9 (int64). Returns a
    deterministic result: same graph -> same bytes, at any parallelism.
    """
    if num_iters < 1:
        raise ValueError("pagerank needs num_iters >= 1")
    if not (0 < d_num < d_den):
        raise ValueError("damping d_num/d_den must lie in (0, 1)")

    conf_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # one metadata-scale scalar, outside the loop
    if n == 0:
        return nodes.withColumn("rank_ppb", F.lit(0).cast("long"))
    # Scale-adaptive round partitioning (r7, guide §2.2/§2.5): every
    # per-round exchange moves rank-vector-sized data (the map side
    # combines per-edge contributions down to <= N rows per partition),
    # so the right partition count follows N, not the session-wide
    # constant — at the gate scale the old 2x-cores default spent more
    # wall on scheduling ~1500 empty reduce tasks across 8 rounds than
    # on ranks (measured 8-core walls BEAT 32-core walls). Dense graphs
    # (E >> N) that need wider map stages can pass shuffle_partitions
    # explicitly; the session conf stays the cap. The rounds get n_part
    # through their inputs: the node set (so every rank vector) is pinned
    # by node and the edge side by src.
    n_part = int(shuffle_partitions or max(1, min(conf_part, -(-n // 4096))))
    nodes = nodes.repartition(n_part, "node").localCheckpoint(eager=True)

    outdeg = edges.groupBy("src").agg(F.count("*").alias("__deg"))
    # pin the big side's partitioning ONCE: every round's join meets it
    edges_deg = (
        edges.join(outdeg, "src")
        .repartition(n_part, "src")
        .localCheckpoint(eager=True)
    )
    # the dangling-node SET is fixed across iterations — materialize it
    # once (N-row scale). Deriving it per round from `outdeg` would drag
    # the ORIGINAL edge lineage into every round's plan, i.e. one full
    # re-scan of the 100 TB edge list per iteration just to re-learn
    # which nodes have no out-edges.
    dang_nodes = nodes.join(
        outdeg, nodes["node"] == outdeg["src"], "left_anti"
    ).localCheckpoint(eager=True)

    base = ((d_den - d_num) * SCALE // n) // d_den
    ranks = nodes.withColumn("rank_ppb", F.lit(SCALE // n).cast("long"))

    for it in range(num_iters):
        r = ranks.withColumnRenamed("node", "src")
        # per-dst incoming sum: int64, exact, order-independent
        insum = (
            edges_deg.join(r, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_ppb DIV __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__insum"))
        )
        # dangling mass = ranks of nodes with no out-edges (1-row, lazy;
        # ranks x checkpointed N-row set — no big-side lineage)
        dang = (
            ranks.join(dang_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank_ppb"), F.lit(0)).alias("__dang"))
            .withColumn("__j", _k(F.col("__dang")))
        )
        ranks = (
            nodes.join(insum, "node", "left")
            .withColumn("__j", _k(F.col("node")))
            .join(F.broadcast(dang), "__j")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"CAST({d_num} AS BIGINT) * (coalesce(__insum, CAST(0 AS BIGINT))"
                        f" + __dang DIV {n}) DIV {d_den}"
                    )
                ).cast("long").alias("rank_ppb"),
            )
        )
        if it < num_iters - 1:
            # truncate lineage so round k+1 never replays rounds 1..k;
            # the LAST round stays lazy (one-round lineage) — the caller
            # composes/inspects the plan without forcing an extra job
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_sql(
    edges_sql: str, num_iters: int = 8, d_num: int = 85, d_den: int = 100
) -> str:
    """DuckDB twin of :func:`pagerank` over an edges relation given as a
    SQL string producing (src, dst). The K iterations are UNROLLED as a
    chain of plain CTEs (a recursive CTE can reference its own table only
    once per step, but each round here needs it twice: the insum join and
    the dangling aggregate). Identical integer arithmetic -> identical
    int64 ranks, bit for bit."""
    base_expr = (
        f"((CAST({d_den - d_num} AS BIGINT) * {SCALE}) // nn) // {d_den}"
    )
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
    # and each round references the previous one twice (insum join +
    # dangling aggregate) — inlining would re-expand the whole chain per
    # reference, i.e. a 2^K plan blowup
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM e JOIN (SELECT src, COUNT(*) AS deg FROM e GROUP BY src) d USING (src))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nstat AS MATERIALIZED (SELECT COUNT(*) AS nn FROM nodes)",
        f"pr0 AS MATERIALIZED (SELECT node, CAST({SCALE} // nn AS BIGINT) AS rank_ppb FROM nodes, nstat)",
    ]
    for i in range(num_iters):
        p, q = f"pr{i}", f"pr{i + 1}"
        parts.append(
            f"""{q} AS MATERIALIZED (
              SELECT n.node,
                     CAST({base_expr}
                          + {d_num} * (COALESCE(s.insum, 0) + dg.dang // nn) // {d_den}
                          AS BIGINT) AS rank_ppb
              FROM nodes n
              CROSS JOIN nstat
              CROSS JOIN (SELECT COALESCE(SUM(rank_ppb), 0) AS dang
                          FROM {p} WHERE node NOT IN (SELECT src FROM ed)) dg
              LEFT JOIN (SELECT dst AS node, SUM(rank_ppb // deg) AS insum
                         FROM ed JOIN {p} ON ed.src = {p}.node
                         GROUP BY dst) s USING (node)
            )"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, rank_ppb FROM pr{num_iters}"
    )


def synthetic_web_edges(docs: DataFrame, links_per_doc: int = 3) -> DataFrame:
    """Deterministic link graph over the documents table: doc i emits
    ``links_per_doc`` edges to md5-derived targets in [0, N); docs with
    doc_id % 7 == 0 emit nothing (dangling pages — every real web graph
    has them). Self-loops dropped. Engine-replayable (md5 on both sides),
    so the oracle rebuilds the identical graph."""
    n = docs.count()
    j = F.explode(F.array(*[F.lit(i) for i in range(links_per_doc)])).alias("j")
    e = (
        docs.select(F.col("doc_id").alias("src"), j)
        .filter(F.col("src") % 7 != 0)
        .select(
            "src",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit("lnk"), F.col("src"), F.col("j"))),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(n),
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return e


def synthetic_web_edges_sql(docs_rel: str, links_per_doc: int = 3) -> str:
    """DuckDB twin of :func:`synthetic_web_edges`."""
    return f"""
        SELECT src, dst FROM (
          SELECT d.doc_id AS src,
                 ('0x' || substr(md5('lnk:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 12))::BIGINT
                   % (SELECT COUNT(*) FROM {docs_rel}) AS dst
          FROM {docs_rel} d
          CROSS JOIN (SELECT unnest(range({links_per_doc})) AS j)
          WHERE d.doc_id % 7 <> 0
        ) WHERE src <> dst
    """
