"""Approximate nearest neighbor over embedding columns.

Two strategies (task brief: brute-force baseline + a bucketed scale path):

- brute force: ``knn``-style cross join + rank window (see the
  ``ann_cosine`` driver query) — exact, O(n·q), right when q is small;
- IVF (inverted-file) index: a deterministic coarse quantizer (the first
  ``n_centroids`` vectors by id — k-means-free so the oracle can replay it)
  partitions the corpus into cells; a query probes only its ``nprobe``
  nearest cells. At cluster scale the cell assignment is a broadcast join
  (centroid table is tiny), the corpus can be written bucketed by
  ``centroid_id`` so probes prune partitions, and per-query work drops from
  O(n) to O(n·nprobe/n_centroids).

All distance math is JVM-side (``functions.vectors``); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import NEARDUP_LSH_SEEDS, cosine_sim, lsh_bucket
from .dedup import _candidate_pairs, _refine_pairs


def lsh_neardup_pairs(
    vectors: DataFrame, threshold: float = 0.4, seeds: list | None = None
) -> DataFrame:
    """-> (id_a, id_b, sim): embedding near-dup pairs found by multi-table
    hyperplane LSH + exact cosine refine — the linear-shuffle scale path
    (the all-pairs cross join of the exact baseline is O(n²) and dies at
    web scale).

    ``vectors``: (id LONG, v ARRAY<DOUBLE>). Each vector gets L bucket ids
    (one per plane table, pure column expressions); candidates are pairs
    sharing ANY table's bucket — one (table, bucket)-keyed equi self-join
    (``dedup._candidate_pairs``), never a BroadcastNestedLoopJoin
    (asserted in tests). Exact cosine >= threshold
    refines candidates, so precision is 1.0; recall is the LSH collision
    probability (quantified against the exact baseline in
    tests/test_dedup_ann.py). Buckets are deterministic sin-derived planes
    (functions.vectors.NEARDUP_LSH_SEEDS) so a DuckDB twin can replay the
    exact candidate set."""
    if seeds is None:
        seeds = NEARDUP_LSH_SEEDS
    buckets = vectors.select(
        "id",
        *[lsh_bucket(F.col("v"), tseeds).alias(f"b{t}") for t, tseeds in enumerate(seeds)],
    ).localCheckpoint(eager=False)
    # ONE (table, bucket)-keyed self-join over the exploded bucket rows
    # (r7, the minhash-band plan shape) instead of L separate self-joins
    # unioned: the same candidate pairs (a pair colliding in any table
    # still meets on its (t, bucket) key; duplicates fall to the same
    # distinct), with one exchange + one join in the plan instead of L
    tb = buckets.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bk"))
                    for t in range(len(seeds))
                ]
            )
        ).alias("tb"),
    ).select("id", F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk"))
    cand = _candidate_pairs(tb, ["t", "bk"], "id_a", "id_b")
    return _refine_pairs(cand, vectors, "id_a", "id_b", cosine_sim, "sim", threshold)


def _argmax_centroid(scored: DataFrame) -> DataFrame:
    """(item_id, vec, centroid_id, csim) -> the max-csim centroid per
    item (ties -> lowest centroid id), as a map-side-combinable
    ``min_by`` hash aggregation on the (-csim, centroid_id) order key —
    replaces a row_number sort window with identical deterministic
    output (csim is pre-rounded, so (csim, centroid_id) is unique)."""
    return scored.groupBy("item_id").agg(
        F.min_by(
            F.struct("vec", "centroid_id"),
            F.struct((-F.col("csim")).alias("nc"), F.col("centroid_id").alias("c")),
        ).alias("t")
    ).select(
        "item_id", F.col("t.vec").alias("vec"), F.col("t.centroid_id").alias("centroid_id")
    )


def kmeans_centroids(
    base: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    train_sample_mod: int = 1,
) -> DataFrame:
    """-> (centroid_id, cvec): fixed-iteration deterministic Lloyd's.

    ``train_sample_mod`` caps the TRAINING set deterministically: the
    quantizer trains only on items with ``item_id % mod == 0`` (the
    downstream full-corpus assign is unaffected). This structurally bounds
    the per-cluster ordered fold below — the quantizer can no longer be
    pointed at a full corpus by accident — and trims the quantizer-build
    wall (a coarse quantizer needs a sample, not the corpus).

    Init = the first ``n_centroids`` sample vectors by id. Each iteration
    assigns every sample vector to its max-cosine centroid (sims ROUNDED
    to 9 decimals before ranking so a cross-engine ulp on a near-tie can't
    flip the assignment; ties -> lowest centroid id) and recomputes each
    centroid as the element-wise mean of its members, FOLDED IN item_id
    ORDER (sort_array(collect_list) + F.aggregate): the mean is
    bit-reproducible run-to-run AND replayable in SQL — the DuckDB oracle
    rebuilds the identical centroids with ``list(v ORDER BY item_id)`` +
    ``list_reduce`` (verified bit-exact). Empty clusters keep their
    previous centroid.

    Scale note: the ordered fold collects one cluster's members into a
    single row — bounded by the training sample (k-means over 10^5-10^6
    sampled vectors; the full-corpus ASSIGN step stays a broadcast join).
    An order-insensitive tree aggregation would scale further but loses
    cross-engine bit-parity."""
    train = (
        base if train_sample_mod <= 1
        else base.filter(F.col("item_id") % train_sample_mod == 0)
    )
    # TakeOrderedAndProject: each partition keeps n, driver merges n·p rows
    cents = train.orderBy("item_id").limit(n_centroids).select(
        F.col("item_id").alias("centroid_id"), F.col("vec").alias("cvec")
    )
    for _ in range(iters):
        scored = train.crossJoin(F.broadcast(cents)).withColumn(
            "csim", F.round(cosine_sim(F.col("vec"), F.col("cvec")), 9)
        )
        # argmax centroid per item as a min_by hash aggregation on the
        # (-csim, centroid_id) order key (r7, guide §2.3): map-side
        # combinable, no sort window over the n_items x n_centroids
        # scored rows; the argmin is the same deterministic winner the
        # old row_number pick made (csim rounded to 9 first, ties ->
        # lowest centroid id — (csim, centroid_id) is unique per item)
        asg = _argmax_centroid(scored)
        lst = F.sort_array(F.collect_list(F.struct("item_id", "vec")))
        summed = F.aggregate(
            F.slice(lst, 2, F.size(lst) - 1),
            F.element_at(lst, 1)["vec"],
            lambda acc, s: F.zip_with(acc, s["vec"], lambda x, y: x + y),
        )
        upd = (
            asg.groupBy("centroid_id")
            .agg(summed.alias("s"), F.count("*").alias("c"))
            .select(
                "centroid_id",
                F.transform("s", lambda x: x / F.col("c")).alias("new_cvec"),
            )
        )
        cents = (
            cents.join(upd, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("new_cvec", "cvec").alias("cvec")
            )
            .localCheckpoint(eager=False)  # cut the growing lineage per round
        )
    return cents


def ivf_assign(
    base: DataFrame,
    n_centroids: int = 16,
    kmeans_iters: int = 0,
    train_sample_mod: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """-> (centroids, assigned): deterministic IVF build.

    ``base``: (item_id LONG, vec ARRAY<DOUBLE>). ``kmeans_iters=0`` keeps
    the k-means-free quantizer (centroids = first ``n_centroids`` vectors
    by id); ``kmeans_iters>0`` refines them with :func:`kmeans_centroids`
    over the deterministic ``train_sample_mod`` sample (better-balanced
    cells -> higher recall at equal nprobe; recall is quantified against
    the first-N quantizer in tests/test_dedup_ann.py). Every item is
    assigned to its max-cosine centroid (sims rounded to 9 decimals before
    ranking; ties -> lowest centroid id)."""
    if kmeans_iters > 0:
        centroids = kmeans_centroids(base, n_centroids, kmeans_iters, train_sample_mod)
    else:
        centroids = base.filter(F.col("item_id") < n_centroids).select(
            F.col("item_id").alias("centroid_id"), F.col("vec").alias("cvec")
        )
    scored = base.crossJoin(F.broadcast(centroids)).withColumn(
        "csim", F.round(cosine_sim(F.col("vec"), F.col("cvec")), 9)
    )
    # same min_by argmax as the k-means assignment step (see _argmax_centroid)
    assigned = _argmax_centroid(scored)
    return centroids, assigned


def write_ivf_index(assigned: DataFrame, path: str) -> None:
    """Persist the IVF-assigned corpus partitioned by centroid: a probe of
    nprobe cells then scans ONLY those directory partitions (dynamic
    partition pruning) — the disk layout that turns per-query cost from
    O(corpus) into O(corpus * nprobe / n_centroids)."""
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ann_ivf_from_index(
    index: DataFrame, queries: DataFrame, centroids: DataFrame, nprobe: int = 4, k: int = 5
) -> DataFrame:
    """Top-k over a persisted IVF index. Centroid probe list is computed on
    the tiny centroid table; the ``centroid_id IN (...)`` filter prunes the
    index scan to the probed partitions."""
    qprobe = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "csim", F.round(cosine_sim(F.col("qvec"), F.col("cvec")), 9)
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("centroid_id").asc())
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )
    cand = (
        index.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_sim(F.col("vec"), F.col("qvec")), 9))
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "rank", "sim")
    )


def ann_ivf(
    base: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    kmeans_iters: int = 0,
    train_sample_mod: int = 1,
) -> DataFrame:
    """-> (query_id, item_id, rank, sim): top-k by cosine among the items
    assigned to the query's ``nprobe`` nearest centroids (self-matches
    excluded; all rank orderings on sims rounded to 9 decimals).
    ``queries``: (query_id LONG, qvec ARRAY<DOUBLE>)."""
    centroids, assigned = ivf_assign(base, n_centroids, kmeans_iters, train_sample_mod)

    qprobe = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "csim", F.round(cosine_sim(F.col("qvec"), F.col("cvec")), 9)
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("centroid_id").asc())
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )

    cand = (
        # probes is (queries x nprobe) rows — broadcast it against the big
        # assigned corpus; with the corpus written bucketed by centroid_id
        # this probe join also prunes partitions
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_sim(F.col("vec"), F.col("qvec")), 9))
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "rank", "sim")
    )
