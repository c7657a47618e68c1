"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship pages->geotag->tile-encode->PIP->agg pipeline
                    on /root/testdata/sf0.001 (SURVEY.md §7 step 2).
``queries()``     — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()``  — DuckDB-equivalent SQL per query. SQL mirrors the exact
                    IEEE expression structure of the Spark plans (same
                    literals, same op order) so value-hashes match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PI = "3.141592653589793"
LAT_LIMIT = "85.051128779806604"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_fan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` + scan-parallelism fixup (guide §2.5 input skew): the sf
    tables are single-row-group parquet files, so their scans are ONE
    task at any core count; queries whose map side is compute-heavy
    (n-gram explodes, md5 hash families, per-pair vector folds) opt in
    to a size-gated round-robin fan-out right after the read. Results
    are identical (row-preserving exchange; every consumer is
    order-independent); a production-scale input is returned untouched.
    Opt-in per query rather than blanket in ``_t`` because the measured
    exchange cost exceeds the win for scan->light-map->agg plans
    (A/B at sf0.1: top2gram 3.1->0.8, minhash 3.0->1.7, but e.g.
    lm_score/dup_line_cut regressed ~0.3 with a blanket fan-out)."""
    from robosat_spark.sources.scan import fan_out_small_scan

    path = f"{sf_dir}/{name}.parquet"
    return fan_out_small_scan(spark, spark.read.parquet(path), path)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Pages -> geotag extraction -> z12 tile encode -> PIP assign ->
    pages-per-(tile, feature) counts, on the sf0.001 events-derived pages."""
    from robosat_spark.operators.spatial_join import assign_broadcast, assign_counts_per_tile
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, "/root/testdata/sf0.001")
    ft = oracle_rect_features(spark)
    assigned = assign_broadcast(spark, pg, ft, zoom=12)
    return assign_counts_per_tile(assigned)


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark, sf_dir):
    """A1/A2-class aggregation: partial+final hash agg over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.round("sum_qty", 4).alias("sum_qty"),
            F.round("sum_base_price", 4).alias("sum_base_price"),
            F.round("sum_disc_price", 4).alias("sum_disc_price"),
            "avg_qty", "count_order",
        )
    )


def _q_market_join(spark, sf_dir):
    """J1/J7-class multi-way equi join + agg (broadcast dims) ∪ the
    TPC-H-Q5-class SNOWFLAKE join (r5 tagged extension — the one join
    shape previously ungated): six tables with the cross-dimension
    equality c_nationkey = s_nationkey (customer and supplier must share
    a nation — the classic 'local supplier volume'), region-restricted,
    every dimension broadcast so the only shuffled side is the fact
    chain. Also the first gate exercising region/nation/supplier."""
    cu = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    seg = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cu), orders["o_custkey"] == cu["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .select(
            F.lit("segment").alias("part"), F.col("c_mktsegment").alias("key"),
            "revenue", "n_orders",
        )
    )
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    q5 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cu), orders["o_custkey"] == cu["c_custkey"])
        .join(
            F.broadcast(su),
            (li["l_suppkey"] == su["s_suppkey"])
            & (cu["c_nationkey"] == su["s_nationkey"]),
        )
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re.filter(F.col("r_name") == "ASIA")),
              na["n_regionkey"] == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .select(
            F.lit("nation").alias("part"), F.col("n_name").alias("key"),
            "revenue", "n_orders",
        )
    )
    return seg.unionByName(q5)


def _q_semi_join(spark, sf_dir):
    """J1 left-semi ∪ J4 left-anti in ONE tagged gate (r5: the anti_join
    entry folded in to free a driver slot for url_curation): orders whose
    customer is in BUILDING, counted by priority, ∪ customers with no
    orders counted by segment (empty at the gate SFs — the anti side
    asserts zero through the oracle's matching emptiness)."""
    cu = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cu_b = cu.filter(F.col("c_mktsegment") == "BUILDING")
    semi = (
        orders.join(cu_b, orders["o_custkey"] == cu_b["c_custkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("semi").alias("part"), F.col("o_orderpriority").alias("key"), "n"
        )
    )
    anti = (
        cu.join(orders, cu["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(F.lit("anti").alias("part"), F.col("c_mktsegment").alias("key"), "n")
    )
    # r6: users_retained (O3 intersect) folded in as a third part to free
    # a driver slot for pagerank — the retained-user set drives one more
    # left-semi (events of retained users), so n pins membership AND
    # activity volume per retained user
    retained = (
        _t(spark, sf_dir, "events")
        .join(_q_users_retained(spark, sf_dir), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("retained").alias("part"),
            F.col("user_id").cast("string").alias("key"),
            "n",
        )
    )
    return semi.unionByName(anti).unionByName(retained)


def _q_latest_event_per_user(spark, sf_dir):
    """Latest-snapshot window (§2.9): row_number over ts desc per user —
    the as-of/idempotent-resume analog of download.py:48-49."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


def _q_sessionize(spark, sf_dir):
    """Tumbling 1-hour window counts (streaming-shaped agg, §2.10)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")
    )


def _q_tile_encode(spark, sf_dir):
    """G27+G1 chain: regex geotag extraction -> z12 slippy encode -> count
    per tile. The whole chain is JVM-side codegen."""
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    return (
        pts.groupBy(
            F.col("tile_id"),
        )
        .agg(F.count("*").alias("n_pages"))
    )


def _q_cell_encode(spark, sf_dir):
    """Cell-id family (north-star 'H3/S2-style cell encoding'): packed
    tile id, Bing quadkey, Z-order Morton code per geotagged page at z12 —
    all unrolled JVM bit arithmetic."""
    from robosat_spark.functions.tiles import (
        morton_cell,
        quadkey,
        unpack_tile_x,
        unpack_tile_y,
    )
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    x = unpack_tile_x(F.col("tile_id"))
    y = unpack_tile_y(F.col("tile_id"))
    return pts.select(
        "url",
        "tile_id",
        quadkey(x, y, 12).alias("qk"),
        morton_cell(x, y, 12).alias("morton"),
    )


def _q_tile_pyramid_rollup(spark, sf_dir):
    """Tile-pyramid rollup (hypertable-rollup analog): page counts per tile
    at z12 rolled up the zoom hierarchy to z8 by parent halving — one
    groupBy at the finest level, then cheap re-aggregations of the (small)
    aggregate, never a rescan of the base table."""
    from robosat_spark.functions.tiles import tile_parent, unpack_tile_x, unpack_tile_y
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    base = (
        pts.select(
            unpack_tile_x(F.col("tile_id")).alias("x"),
            unpack_tile_y(F.col("tile_id")).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .withColumn("z", F.lit(12))
    )
    # materialize the finest level ONCE: all five union branches hang off
    # this aggregate, and without the checkpoint each branch re-plans the
    # scan+geotag+groupBy subtree (one scan per level unless AQE exchange
    # reuse happens to fire). Safe per the r7 checkpoint rule: the
    # sub-pipeline below is scan->agg with no joins for AQE to re-plan.
    # Same-session A/B at 32 cores: 2.27-2.44 -> 1.94-2.29 s.
    base = base.localCheckpoint(eager=False)
    levels = [base.select("z", "x", "y", "n")]
    cur = base
    for z in range(11, 7, -1):
        px, py = tile_parent(F.col("x"), F.col("y"))
        cur = (
            cur.select(px.alias("x"), py.alias("y"), "n")
            .groupBy("x", "y")
            .agg(F.sum("n").alias("n"))
            .withColumn("z", F.lit(z))
        )
        levels.append(cur.select("z", "x", "y", "n"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def _q_hex_encode(spark, sf_dir):
    """Hex cell family (H3-style axial binning, 10 km edge): pages per hex
    cell — the second cell encoder next to slippy/quadkey/Morton."""
    from robosat_spark.functions.tiles import hex_cell
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    return (
        pts.select(hex_cell(F.col("lon"), F.col("lat"), 10_000.0).alias("hex_id"))
        .groupBy("hex_id")
        .agg(F.count("*").alias("n_pages"))
    )


# the modules that write the Iceberg gate fixtures: their source is part of
# each fixture's cache key
_ICEBERG_WRITER = ("robosat_spark.sources.iceberg", "robosat_spark.sources.avro_codec")


def _fixture_key(sf_dir: str, table: str, salt: str = "",
                 writers: tuple[str, ...] = _ICEBERG_WRITER) -> str:
    """16-hex cache key of a build-once fixture under the temp dir: the
    (path, size, mtime) of every file of ``sf_dir/<table>.parquet``,
    ``salt``, and the source bytes of each module in ``writers``. A
    regenerated input and a changed writer both miss the cache, so a
    gate run always reads a table the current code wrote."""
    import hashlib
    import importlib
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    files = [src] if os.path.isfile(src) else sorted(
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    )
    h = hashlib.md5(salt.encode())
    for p in files:
        st = os.stat(p)
        h.update(f"|{p}:{st.st_size}:{int(st.st_mtime)}".encode())
    for mod in writers:
        with open(importlib.import_module(mod).__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _zordered_pages_path(spark, sf_dir: str, zoom: int) -> str:
    """Materialize (once per sf_dir content) the pages table as a REAL
    Z-ordered parquet layout: a stored ``morton`` column, range-partitioned
    and sorted by it, so row-group min/max stats are spatially tight and
    the BETWEEN predicates of :func:`_q_morton_bbox` prune at the scan.
    Keyed by the events files' (size, mtime) so a regenerated fixture
    invalidates the cache (``_fixture_key``)."""
    import os
    import tempfile

    from robosat_spark.functions.tiles import morton_cell, tile_x, tile_y
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    key = _fixture_key(sf_dir, "events", f"z{zoom}", writers=())
    path = os.path.join(tempfile.gettempdir(), f"robosat_zorder_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=zoom).withColumn(
            "morton",
            morton_cell(tile_x(F.col("lon"), zoom), tile_y(F.col("lat"), zoom), zoom),
        )
        (
            pts.repartitionByRange(8, "morton")
            .sortWithinPartitions("morton")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def _q_morton_bbox(spark, sf_dir):
    """Z-order pruned bbox count over a REAL Z-ordered parquet layout:
    ``morton`` is a stored, sorted table column (written once per fixture
    via ``_zordered_pages_path``), the bbox becomes Morton BETWEEN
    intervals pushed to parquet row-group stats (PushedFilters asserted in
    tests/test_knn_cells.py), and an exact lon/lat refine keeps semantics
    exact; oracle is the direct bbox count."""
    from robosat_spark.functions.tiles import morton_range_filter, morton_ranges
    from robosat_spark.kernels.mercator import lonlat_to_tile

    zoom = 10
    lon0, lon1, lat0, lat1 = -120.0, -60.0, 10.0, 50.0
    pts = spark.read.parquet(_zordered_pages_path(spark, sf_dir, zoom))
    tx0, ty0 = lonlat_to_tile(lon0, lat1, zoom)
    tx1, ty1 = lonlat_to_tile(lon1, lat0, zoom)
    ranges = morton_ranges(int(tx0), int(ty0), int(tx1), int(ty1), zoom, max_ranges=64)
    pruned = pts.filter(morton_range_filter(F.col("morton"), ranges))
    return pruned.filter(
        (F.col("lon") >= lon0) & (F.col("lon") <= lon1)
        & (F.col("lat") >= lat0) & (F.col("lat") <= lat1)
    ).agg(F.count("*").alias("n_pages"), F.countDistinct("url").alias("n_urls"))


def _iceberg_documents_path(spark, sf_dir: str) -> str:
    """Build-once (content-keyed) REAL Iceberg v2 table over ``documents``
    in the temp dir: snapshot 1 = doc_id <= (min+max)//2, snapshot 2
    appends the rest; identity-partitioned by lang with doc_id/n_chars
    file stats — so the gated queries exercise snapshot isolation, time
    travel, partition pruning, and bounds pruning on real Avro manifests
    (sources/iceberg.py, from the public Iceberg spec)."""
    from robosat_spark.sources.iceberg import write_iceberg

    def build(docs, path):
        mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
        thr = (int(mn) + int(mx)) // 2
        write_iceberg(
            spark, docs.filter(F.col("doc_id") <= thr), path,
            partition_by="lang", stats_cols=("doc_id", "n_chars"), timestamp_ms=1000,
        )
        write_iceberg(
            spark, docs.filter(F.col("doc_id") > thr), path,
            partition_by="lang", stats_cols=("doc_id", "n_chars"), timestamp_ms=2000,
        )

    return _iceberg_documents_fixture(spark, sf_dir, "docs", 2, build)


def _q_iceberg_scan(spark, sf_dir):
    """Current-snapshot scan of the from-scratch Iceberg table with an
    identity-partition filter (lang = 'en'): manifest planning + partition
    pruning happen in the connector (8/10 files pruned at sf0.01), the
    predicate is re-applied Spark-side, and the result must equal a plain
    scan of the source parquet — proving snapshot 1 ∪ snapshot 2 is
    exactly the table and pruning loses nothing."""
    from robosat_spark.sources.iceberg import IcebergTable

    t = IcebergTable(_iceberg_documents_path(spark, sf_dir))
    df = t.scan(spark, filters=[("lang", "=", "en")])
    return (
        df.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def _q_iceberg_time_travel(spark, sf_dir):
    """Snapshot-1 time travel on the Iceberg table: the reader must see
    exactly the pre-append rows (doc_id <= (min+max)//2) — snapshot
    isolation via the manifest list, not file listing."""
    from robosat_spark.sources.iceberg import IcebergTable

    t = IcebergTable(_iceberg_documents_path(spark, sf_dir))
    df = t.scan(spark, snapshot_id=1)
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.max("doc_id").alias("max_doc_id")
    )


def _q_iceberg_pages_pip(spark, sf_dir):
    """The north-star wiring end-to-end: the flagship geotag -> tile-encode
    -> PIP pipeline reading its pages THROUGH the Iceberg connector (a
    build-once snapshot of ``pages_from_events`` with url file stats)
    instead of raw parquet. Same oracle as ``pip_assign`` — the storage
    layer must be invisible to the result."""
    import os
    import tempfile

    from robosat_spark.operators.spatial_join import assign_broadcast
    from robosat_spark.sources.iceberg import IcebergTable, current_version, write_iceberg
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    key = _fixture_key(sf_dir, "events", "pages")
    path = os.path.join(tempfile.gettempdir(), f"robosat_iceberg_pages_{key}")
    if current_version(path) < 1:
        write_iceberg(
            spark, pages_from_events(spark, sf_dir), path, stats_cols=("url",)
        )
    pg = IcebergTable(path).scan(spark)
    ft = oracle_rect_features(spark)
    assigned = assign_broadcast(spark, pg, ft, zoom=7)
    return assigned.groupBy("feature_id").agg(
        F.count("*").alias("n_pages"), F.countDistinct("url").alias("n_urls")
    )


def _q_iceberg_incremental(spark, sf_dir):
    """Incremental (CDC append) scan between snapshots 1 and 2: exactly
    the appended half (doc_id > (min+max)//2), never re-reading snapshot
    1's files — the streaming-ingest read pattern at production scale."""
    from robosat_spark.sources.iceberg import IcebergTable

    t = IcebergTable(_iceberg_documents_path(spark, sf_dir))
    df = t.scan_incremental(spark, from_snapshot_id=1, to_snapshot_id=2)
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def _q_tile_adjacency(spark, sf_dir):
    """J6 tile-adjacency self-join: count occupied neighbor pairs among
    the distinct z12 tiles of the geotagged points."""
    from robosat_spark.functions.tiles import unpack_tile_x, unpack_tile_y
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    from robosat_spark.functions.tiles import neighbor_offsets_df

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    tiles = pts.select(
        unpack_tile_x(F.col("tile_id")).alias("x"), unpack_tile_y(F.col("tile_id")).alias("y")
    ).distinct()
    # equi-join on shifted keys (J6 pattern): tiles x 8 offsets, then hash
    # join on the neighbor coordinate — O(T*8) not the O(T^2) theta join a
    # naive |dx|<=1 predicate would give
    probes = tiles.crossJoin(neighbor_offsets_df(spark)).select(
        (F.col("x") + F.col("dx")).alias("nx"), (F.col("y") + F.col("dy")).alias("ny")
    )
    pairs = probes.join(tiles, (F.col("nx") == F.col("x")) & (F.col("ny") == F.col("y")))
    return pairs.agg(F.count("*").alias("n_adjacent_pairs"))


def _q_pip_assign(spark, sf_dir):
    """The flagship spatial join (J2): REAL cover+PIP operator vs bbox SQL."""
    from robosat_spark.operators.spatial_join import assign_broadcast
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, sf_dir)
    ft = oracle_rect_features(spark)
    assigned = assign_broadcast(spark, pg, ft, zoom=7)
    return assigned.groupBy("feature_id").agg(
        F.count("*").alias("n_pages"), F.countDistinct("url").alias("n_urls")
    )


def _q_knn(spark, sf_dir):
    """J8/O5 kNN: 3 nearest rect-features per sampled point, rank-windowed."""
    from robosat_spark.operators.knn import knn_bruteforce
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    # deterministic sample (url digits mod 37) keeps the cross join oracle-sized
    sample = pts.filter(
        (F.substring("url", 23, 8).cast("long") % 37) == 0
    ).select("url", "lon", "lat")
    ft = oracle_rect_features(spark)
    out = knn_bruteforce(sample, ft, k=3)
    return out.select("url", "feature_id", "rank", F.round("dist_deg", 9).alias("dist_deg"))


def _q_knn_cells(spark, sf_dir):
    """J8 kNN, the exact DISTRIBUTED plan: neighbor-cell explode + equi-join
    on the cell key with per-point ring expansion until the kth candidate
    provably beats anything outside the block — same result set as the
    brute-force oracle (shares `knn`'s DuckDB twin), linear-shuffle plan."""
    from robosat_spark.operators.knn import knn_cells
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    sample = pts.filter(
        (F.substring("url", 23, 8).cast("long") % 37) == 0
    ).select("url", "lon", "lat")
    ft = oracle_rect_features(spark)
    out = knn_cells(spark, sample, ft, k=3, zoom=7)
    return out.select("url", "feature_id", "rank", F.round("dist_deg", 9).alias("dist_deg"))


def _q_dedup_exact(spark, sf_dir):
    """Exact text dedup: hash-groupBy on normalized text, keep min doc_id."""
    from robosat_spark.functions.text import normalized_text

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("key", F.md5(normalized_text(F.col("text"))))
        .groupBy("key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dupes"))
    )


def _q_dedup_incremental(spark, sf_dir):
    """Crawl-delta ingest dedup (operators/dedup.dedup_incremental): the
    delta (doc_id%5==0) deduped in-batch then anti-joined against the
    corpus (doc_id%3!=0) THROUGH the Bloom prefilter — certain-new rows
    (no false negatives) skip the join entirely; the oracle computes the
    same survivors set-theoretically, so the gate proves the prefiltered
    plan loses and invents nothing."""
    from robosat_spark.functions.text import normalized_text
    from robosat_spark.operators.dedup import dedup_incremental
    from robosat_spark.operators.sketch import bloom_bits

    docs = _t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.md5(normalized_text(F.col("text"))).alias("fp")
    )
    surv = dedup_incremental(delta, corpus, bloom=bloom_bits(corpus, "fp"))
    return surv.select(
        F.col("fp").alias("key"),
        F.col("doc_id").alias("keep_doc_id"),
        F.lit(1).cast("long").alias("n_dupes"),
    )


def _q_dedup_exact_all(spark, sf_dir):
    """Exact-dedup family, one tagged gate: part='groups' is the corpus
    hash-groupBy (the r1 gate); part='incr' is the incremental-ingest
    path (batch vs corpus survivors via the Bloom-prefiltered
    anti-join)."""
    groups = _q_dedup_exact(spark, sf_dir).select(
        F.lit("groups").alias("part"), "key", "keep_doc_id", "n_dupes"
    )
    incr = _q_dedup_incremental(spark, sf_dir).select(
        F.lit("incr").alias("part"), "key", "keep_doc_id", "n_dupes"
    )
    return groups.unionByName(incr)


def _q_fingerprint(spark, sf_dir):
    """K-robust content fingerprint: md5 prefix (exact-dup key per doc)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.substring(F.md5("text"), 1, 16).alias("fp"))


def _q_token_stats(spark, sf_dir):
    """Token counting + quality scoring over documents."""
    from robosat_spark.functions.text import (
        alpha_ratio,
        punct_ratio,
        subword_count,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        subword_count(F.col("text")).alias("n_subwords"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(alpha_ratio(F.col("text")), 6).alias("alpha_ratio"),
    )


def _q_lang_id(spark, sf_dir):
    """Marker-lexicon language ID over documents."""
    from robosat_spark.functions.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


def _q_lang_all(spark, sf_dir):
    """Language-ID family under one tagged oracle (r6 consolidation —
    freed a driver slot for ``sample_split``): part='pred' pins every
    per-document prediction (a=doc_id, b=pred_lang), part='confusion'
    pins the (true, predicted) eval matrix (a=true_lang, b=pred_lang,
    n=count)."""
    pred = _q_lang_id(spark, sf_dir).select(
        F.lit("pred").alias("part"),
        F.col("doc_id").cast("string").alias("a"),
        F.col("pred_lang").alias("b"),
        F.lit(1).cast("long").alias("n"),
    )
    conf = _q_lang_confusion(spark, sf_dir).select(
        F.lit("confusion").alias("part"),
        F.col("true_lang").alias("a"),
        F.col("pred_lang").alias("b"),
        F.col("n"),
    )
    return pred.unionByName(conf)


def _q_sample_split(spark, sf_dir):
    """Deterministic sampling/splitting family (operators/sample) under
    one tagged oracle: part='bernoulli' = 20% hash sample of documents,
    part='stratified' = per-language keep-fractions (50% en, 10% rest),
    part='split' = the 80/10/10 train/val/test assignment — each part
    reports per-group doc counts AND n_chars sums, so the gate pins the
    exact sampled MEMBERSHIP, not just its size. All three are pure
    map-side column predicates over the engine-replayable md5 hash:
    no shuffle, rerun- and partitioning-stable — the reproducible
    subset contract a 100 TB training pipeline needs (df.sample/rand()
    reshuffle membership with the partitioning)."""
    from robosat_spark.operators.sample import (
        hash_sample,
        split_assign,
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    bern = (
        hash_sample(docs, "doc_id", 0.2, salt="qa")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(F.lit("bernoulli").alias("part"),
                F.col("lang").alias("grp"), "n_docs", "total_chars")
    )
    strat = (
        stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default=0.1,
                          salt="strat")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(F.lit("stratified").alias("part"),
                F.col("lang").alias("grp"), "n_docs", "total_chars")
    )
    split = (
        split_assign(docs, "doc_id", salt="cv")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(F.lit("split").alias("part"),
                F.col("split").alias("grp"), "n_docs", "total_chars")
    )
    # part='dsir': importance-resampling selection (target = lang 'en');
    # per-lang counts + char sums over the SELECTED docs pin the exact
    # membership, which pins every micro log-ratio behind the keep rule
    dsir = (
        _q_dsir_weights(spark, sf_dir)
        .filter("selected")
        .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(F.lit("dsir").alias("part"),
                F.col("lang").alias("grp"), "n_docs", "total_chars")
    )
    return bern.unionByName(strat).unionByName(split).unionByName(dsir)


def _q_dsir_weights(spark, sf_dir):
    """DSIR hashed-ngram importance weights (operators/dsir, Xie et al.
    2023), target = the lang='en' slice: per-doc int64 micro log-weight
    + the logw>0 keep rule. Granular bench variant; correctness flows
    through sample_split part='dsir'."""
    from robosat_spark.operators.dsir import dsir_weights

    return dsir_weights(_t_fan(spark, sf_dir, "documents"), F.col("lang") == "en")


def _q_lang_confusion(spark, sf_dir):
    """Language-ID eval against the ground-truth lang column: the
    (true, predicted) confusion counts — the quality-eval query every
    lang-filtered training pipeline runs before trusting the filter."""
    from robosat_spark.functions.text import lang_id

    docs = _t_fan(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang").alias("true_lang"), lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _q_knn_label_accuracy(spark, sf_dir):
    """Embedding-space kNN classification eval: for every 40th vector,
    top-5 cosine neighbors (self excluded) vote on the label; report
    n_queries / n_correct / accuracy. The standard embedding-quality
    smoke test for a training corpus. Exact brute-force candidates keep
    the eval unbiased at gate scale (r5: query mod raised 20->40 — the
    suite's slowest wall was this O(n*q) sim matrix; the estimate stays
    unbiased, just fewer eval points); at 100 TB swap the candidate
    stage for ann_ivf (same vote/agg tail) and report recall alongside."""
    from robosat_spark.functions.vectors import cosine_sim

    emb = _t_fan(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("item_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
        F.col("label").alias("item_label"),
    )
    q = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
        F.col("label").alias("true_label"),
    )
    cand = base.crossJoin(F.broadcast(q)).filter(F.col("item_id") != F.col("query_id"))
    # round to 9 before ranking: a cross-engine ulp on a near-tie must not
    # flip row_number (the oracle rounds identically)
    cand = cand.withColumn("sim", F.round(cosine_sim(F.col("vec"), F.col("qvec")), 9))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    top = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top.groupBy("query_id", "true_label", "item_label").agg(
        F.count("*").alias("v")
    )
    # top vote per query via min_by hash agg instead of a sort window
    # (r7; identical deterministic winner — (v, item_label) unique)
    pred = votes.groupBy("query_id", "true_label").agg(
        F.min_by(
            "item_label", F.struct((-F.col("v")).alias("nv"), F.col("item_label").alias("l"))
        ).alias("item_label")
    )
    return pred.agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("item_label") == F.col("true_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.avg(F.when(F.col("item_label") == F.col("true_label"), 1.0).otherwise(0.0)), 6
        ).alias("accuracy"),
    )


def _q_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-5 per query vector (vec_id < 3), the ANN
    baseline; JVM-side zip_with/aggregate arithmetic."""
    from robosat_spark.functions.vectors import cosine_sim

    emb = _t_fan(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").cast("array<double>").alias("item_vec")
    )
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("query_vec")
    )
    cand = base.crossJoin(F.broadcast(queries_df)).filter(F.col("item_id") != F.col("query_id"))
    # round to 9 before ranking (float-ordering robustness; oracle twins it)
    cand = cand.withColumn("sim", F.round(cosine_sim(F.col("item_vec"), F.col("query_vec")), 9))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "item_id", "rank", F.round("sim", 6).alias("sim"))
    )


def _q_pip_assign_salted(spark, sf_dir):
    """The salted-repartition-by-cell variant of the flagship join (the
    skew-kill path, BASELINE.json north_rule) — identical result by
    construction, so it shares pip_assign's oracle."""
    from robosat_spark.operators.spatial_join import assign_salted
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, sf_dir)
    ft = oracle_rect_features(spark)
    assigned = assign_salted(spark, pg, ft, zoom=7)
    return assigned.groupBy("feature_id").agg(
        F.count("*").alias("n_pages"), F.countDistinct("url").alias("n_urls")
    )


def _q_pip_assign_jvm(spark, sf_dir):
    """All-JVM variant of the flagship join: broadcast cover join + codegen
    crossing-number PIP (no Python workers at all) — same oracle."""
    from robosat_spark.operators.spatial_join import assign_jvm
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, sf_dir)
    ft = oracle_rect_features(spark)
    assigned = assign_jvm(spark, pg, ft, zoom=7)
    return assigned.groupBy("feature_id").agg(
        F.count("*").alias("n_pages"), F.countDistinct("url").alias("n_urls")
    )


def _q_cover(spark, sf_dir):
    """G2 tile cover: the real scanline cover kernel over the oracle rects
    at z10, exploded to (feature_id, x, y)."""
    from robosat_spark.operators.cover import cover
    from robosat_spark.sources.oracle_features import oracle_rect_features

    ft = oracle_rect_features(spark)
    return cover(ft, zoom=10).select("feature_id", "x", "y")


def _q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs (3-word shingles, 32 perms, banded
    candidates, exact-Jaccard refine >= 0.3). Oracle = exact all-pairs."""
    from robosat_spark.operators.dedup import minhash_lsh_pairs

    docs = _t_fan(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, k=3, num_perm=32, threshold=0.3)


def _q_dedup_jaccard_prefix(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via prefix filtering
    (AllPairs/PPJoin family): df-ordered prefix-token equi self-join +
    length filter + exact array_intersect refine. Unlike the LSH path,
    equality with the all-pairs oracle holds by construction (pigeonhole
    on the prefix), with no data-gap contingency."""
    from robosat_spark.operators.dedup import jaccard_prefix_pairs

    docs = _t_fan(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(docs, k=3, threshold=0.6)


def _q_dedup_simhash(spark, sf_dir):
    """Per-doc 32-bit SimHash signature (TF-weighted md5 bit votes)."""
    from robosat_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text"), bits=32).alias("simhash"))


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components (iterative min-label
    propagation, R3) over the MinHash-LSH pair graph — cluster id = min
    doc_id reachable. Oracle: DuckDB recursive CTE."""
    from robosat_spark.operators.components import connected_components
    from robosat_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(_t_fan(spark, sf_dir, "documents"), k=3, num_perm=32, threshold=0.3)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    self_loops = docs.select(
        F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
    )
    labels = connected_components(edges.unionByName(self_loops))
    return labels.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster"))


def _q_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/graph) over a deterministic
    md5-derived link graph on the documents table (3 out-links per doc,
    doc_id%7==0 pages dangling). Ranks are int64 ppb — every iteration is
    integer arithmetic, so the result is bit-identical across engines,
    partitionings, and cluster sizes (a floating PageRank is none of
    those); the DuckDB twin unrolls the 8 iterations as MATERIALIZED CTEs
    and matches exactly."""
    from robosat_spark.operators.graph import pagerank, synthetic_web_edges

    docs = _t(spark, sf_dir, "documents")
    return pagerank(synthetic_web_edges(docs), num_iters=8).select(
        "node", "rank_ppb"
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF ANN with a REAL coarse quantizer: 2 deterministic Lloyd's
    iterations (init = first 16 vectors, member means folded in item_id
    order so they are bit-reproducible), nprobe=4, top-5 within the probed
    cells — the bucketed scale path vs ann_cosine. The DuckDB oracle
    REPLAYS the identical k-means iterations (same fold order — centroids
    verified bit-exact), so the quantizer itself is value-checked."""
    from robosat_spark.operators.ann import ann_ivf

    emb = _t_fan(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qvec")
    )
    out = ann_ivf(
        base, queries_df, n_centroids=16, nprobe=4, k=5, kmeans_iters=2,
        train_sample_mod=4,
    )
    return out.select("query_id", "item_id", "rank", F.round("sim", 6).alias("sim"))


def _q_ann_all(spark, sf_dir):
    """ANN brute-force baseline ∪ IVF scale path in ONE tagged gate (r5
    consolidation — identical (query_id, item_id, rank, sim) schemas;
    the freed driver slot went to cms_tokens). The bench still times the
    two plans separately under their historical names."""
    a = _q_ann_cosine(spark, sf_dir).select(F.lit("brute").alias("part"), "*")
    b = _q_ann_ivf(spark, sf_dir).select(F.lit("ivf").alias("part"), "*")
    return a.unionByName(b)


def _q_cms_tokens(spark, sf_dir):
    """Sketch-family gate over corpus tokens (new r5 — with hll_distinct
    this completes the re-aggregatable sketch trio a 100 TB corpus
    lineage runs on): part='register' is the full Count-Min d=4 x w=256
    counter table (cell-wise SUM-mergeable across table slices),
    part='estimate' the CMS point estimate for the exact top-20 tokens,
    part='exact' their true counts — the gate value-pins the sketch AND
    exhibits the overestimate guarantee (est >= exact) next to it;
    part='bloom_bit' is the set-bit table of a k=4, m=2048 Bloom filter
    over the same tokens (union-mergeable membership, the crawl
    seen-set), part='bloom_probe' its membership answers for the top-20
    (all 1: no false negatives) plus a planted absent token. Same
    engine-replayable md5 hash family throughout: the DuckDB twin
    reproduces every counter and every bit — exact value gates over
    approximate operators."""
    from robosat_spark.operators.dedup import words
    from robosat_spark.operators.sketch import (
        bloom_bits,
        bloom_might_contain,
        cms_buckets,
        cms_estimate,
    )

    docs = _t_fan(spark, sf_dir, "documents")
    # NOT cached: the five tagged branches re-derive the explode, but a
    # measured A/B at sf0.1 put .cache() ~8% SLOWER (materialization +
    # memory-store overhead exceeds the recompute of a cheap codegen
    # explode) — at real corpus scale a persisted token TABLE would be
    # built upstream of sketching, not inside the query
    toks = docs.select(F.explode(words(F.lower(F.col("text")))).alias("token")).filter(
        F.col("token") != ""
    )
    regs = cms_buckets(toks, "token", d=4, w=256)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )
    est = cms_estimate(regs, top.select("token"), "token", d=4, w=256)
    bits = bloom_bits(toks, "token", k=4, m=2048)
    probes = top.select("token").unionByName(
        spark.createDataFrame([("zz-never-a-token",)], "token STRING")
    )
    bp = bloom_might_contain(bits, probes, "token", k=4, m=2048)
    reg_rows = regs.select(
        F.lit("register").alias("part"),
        F.format_string("%d:%d", "row", "col").alias("key"),
        F.col("cnt").alias("n"),
    )
    est_rows = est.select(
        F.lit("estimate").alias("part"), F.col("token").alias("key"), F.col("est").alias("n")
    )
    exact_rows = top.select(F.lit("exact").alias("part"), F.col("token").alias("key"), "n")
    bit_rows = bits.select(
        F.lit("bloom_bit").alias("part"),
        F.format_string("%d", "bit").alias("key"),
        F.lit(1).cast("long").alias("n"),
    )
    probe_rows = bp.select(
        F.lit("bloom_probe").alias("part"), F.col("token").alias("key"),
        F.col("hit").alias("n"),
    )
    return (
        reg_rows.unionByName(est_rows)
        .unionByName(exact_rows)
        .unionByName(bit_rows)
        .unionByName(probe_rows)
    )


def _q_knn_label_accuracy_ivf(spark, sf_dir):
    """The SCALE path of the kNN-classification eval (gates the last weak
    plan from round 2): ann_ivf candidates (Lloyd's quantizer, nprobe=4)
    feed the SAME vote tail as ``knn_label_accuracy``, plus recall@5 of
    the IVF candidates vs the exact brute-force top-5 — so the one-row
    readout quantifies BOTH label accuracy and how much the ANN candidate
    stage loses. Fully oracle-gated (the twin replays quantizer, probes,
    votes, and recall)."""
    from robosat_spark.operators.ann import ann_ivf

    emb = _t_fan(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("item_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
        F.col("label").alias("item_label"),
    )
    q = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
        F.col("label").alias("true_label"),
    )
    ivf_top = ann_ivf(
        base.select("item_id", "vec"),
        q.select("query_id", "qvec"),
        n_centroids=16,
        nprobe=4,
        k=5,
        kmeans_iters=2,
        train_sample_mod=4,
    ).select("query_id", "item_id")
    # materialize the (queries x k)-row IVF result ONCE (r7): both the
    # vote tail and the recall join consume it, and without the cut the
    # whole quantizer+probe pipeline would be replayed per consumer
    ivf_top = ivf_top.localCheckpoint(eager=False)

    # vote tail — identical to knn_label_accuracy
    top = ivf_top.join(base.select("item_id", "item_label"), "item_id").join(
        q.select("query_id", "true_label"), "query_id"
    )
    votes = top.groupBy("query_id", "true_label", "item_label").agg(F.count("*").alias("v"))
    # top vote per query as a min_by hash agg on the (-v, label) order key
    # (r7): map-side combinable, no sort window; identical deterministic
    # winner ((v, item_label) is unique per query)
    pred = votes.groupBy("query_id", "true_label").agg(
        F.min_by(
            "item_label", F.struct((-F.col("v")).alias("nv"), F.col("item_label").alias("l"))
        ).alias("item_label")
    )
    acc = pred.agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("item_label") == F.col("true_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.avg(F.when(F.col("item_label") == F.col("true_label"), 1.0).otherwise(0.0)), 6
        ).alias("accuracy"),
    )

    # recall@5 of the IVF candidates vs exact brute force
    from robosat_spark.functions.vectors import cosine_sim

    cand = base.select("item_id", "vec").crossJoin(
        F.broadcast(q.select("query_id", "qvec"))
    ).filter(F.col("item_id") != F.col("query_id"))
    wbf = Window.partitionBy("query_id").orderBy(
        F.round(cosine_sim(F.col("vec"), F.col("qvec")), 9).desc(), F.col("item_id").asc()
    )
    bf_top = (
        cand.withColumn("rn", F.row_number().over(wbf))
        .filter(F.col("rn") <= 5)
        .select("query_id", "item_id")
    )
    matched = ivf_top.join(bf_top, ["query_id", "item_id"]).select("query_id", "item_id")
    ov = (
        q.select("query_id")
        .join(matched, "query_id", "left")
        .groupBy("query_id")
        .agg(F.count("item_id").alias("n_ov"))
    )
    rec = ov.agg(
        F.round(F.avg(F.col("n_ov").cast("double") / F.lit(5.0)), 6).alias("recall")
    )
    return acc.crossJoin(rec)


_WAY_CLASSES = [
    "motorway", "trunk", "primary", "secondary", "tertiary", "unclassified",
    "residential", "service", "motorway_link", "trunk_link", "primary_link",
    "secondary_link", "tertiary_link", "footway", "path", "track",
]


def _ways_view(spark, sf_dir):
    """Deterministic ways-analog over events: tags derived from props.k and
    event_id, including unparseable lanes/width values that exercise the
    try_cast fallbacks (road.py:116-138)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    i = F.col("event_id")
    highway = F.element_at(
        F.array(*[F.lit(c) for c in _WAY_CLASSES]), (k % 16).cast("int") + 1
    )
    oneway = F.when(
        i % 3 == 0, F.when(i % 6 == 0, F.lit("yes")).otherwise(F.lit("no"))
    )
    lanes_tag = F.when(
        k % 5 == 0,
        F.when(k % 25 == 0, F.lit("x")).otherwise((k % 9 - 1).cast("string")),
    )
    width_tag = F.when(
        k % 7 == 0,
        F.when(k % 21 == 0, F.lit("w m")).otherwise(
            F.format_string("%.1f", F.lit(0.5) * (k % 30).cast("double"))
        ),
    )
    return ev.select(
        "event_id",
        highway.alias("highway"),
        oneway.alias("oneway"),
        lanes_tag.alias("lanes_tag"),
        width_tag.alias("width_tag"),
    )


def _q_road_widths(spark, sf_dir):
    """F4 highway whitelist + G7 width derivation (try_cast fallbacks) —
    the reference's RoadHandler re-expressed as pure column expressions."""
    from robosat_spark.functions.roads import is_road, road_width_m

    ways = _ways_view(spark, sf_dir)
    return ways.filter(is_road(F.col("highway"))).select(
        "event_id",
        "highway",
        F.round(
            road_width_m(
                F.col("highway"), F.col("oneway"), F.col("lanes_tag"), F.col("width_tag")
            ),
            6,
        ).alias("width_m"),
    )


def _q_quality_score(spark, sf_dir):
    """Composite document-quality score (length/alpha/punct/stopword)."""
    from robosat_spark.functions.text import quality_score, stopword_ratio

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


def _q_repetition_stats(spark, sf_dir):
    """Gopher-style within-document repetition signal: share of duplicate
    3-word shingles (1 - distinct/total). Templated/spammy text scores
    high; all whole-stage codegen (split + slice/zip_with + array_distinct)."""
    from robosat_spark.operators.dedup import word_shingles, words

    docs = _t(spark, sf_dir, "documents")
    w = words(F.col("text"))
    total = F.greatest(F.size(w) - F.lit(2), F.lit(1))
    distinct = F.size(word_shingles(F.col("text"), 3))
    return docs.select(
        "doc_id",
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
        F.round(F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6).alias(
            "rep_ratio"
        ),
    )


def _q_top_tokens(spark, sf_dir):
    """Corpus-level token frequency top-k: explode -> hash agg (map-side
    partials) -> orderBy+limit. The limit compiles to
    TakeOrderedAndProject (each partition keeps k, driver merges k·p rows)
    — never the single-partition global window a naive rank() gives.
    Rank is then a trivial window over the 20 survivors."""
    from robosat_spark.operators.dedup import words

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words(F.lower(F.col("text")))).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("token", "n", "rank")


_BM25_TERMS = ["dup", "hash", "query", "stream"]  # df spread: rare 'dup' dominates idf


def _q_bm25_topk(spark, sf_dir):
    """Top-10 documents by BM25 relevance for a fixed 4-term query
    (operators/relevance — Lucene-IDF Okapi BM25 as pure column
    expressions; the explode is filtered to the query terms before any
    shuffle so aggregated state is <= |docs| x |terms| rows). Scores are
    rounded inside the operator, and the top-k orders by the ROUNDED
    score so cross-engine ranking never hinges on sub-rounding ulps."""
    from robosat_spark.operators.relevance import bm25_scores

    s = bm25_scores(_t(spark, sf_dir, "documents"), _BM25_TERMS)
    top = s.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("doc_id").cast("string").alias("token"),
        F.col("score").alias("n"), "rank",
    )


def _bm25_index_path(spark, sf_dir):
    """Build-once bucketed posting-list index over ``documents``
    (Iceberg bucket[8] on token, corpus stats in the snapshot summary)."""
    from robosat_spark.operators.relevance import write_inverted_index

    def build(docs, path):
        write_inverted_index(spark, docs, path, n_buckets=8, timestamp_ms=1000)

    return _iceberg_documents_fixture(spark, sf_dir, "postings", 1, build)


def _q_bm25_topk_index(spark, sf_dir):
    """The same top-10 BM25 ranking answered from STORAGE: the bucketed
    Iceberg posting-list index (manifest-pruned point scan per term,
    corpus stats from the snapshot summary — zero corpus-side work at
    query time). Must be bit-identical to the direct-scan ranking."""
    from robosat_spark.operators.relevance import bm25_from_index

    s = bm25_from_index(spark, _bm25_index_path(spark, sf_dir), _BM25_TERMS)
    top = s.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("doc_id").cast("string").alias("token"),
        F.col("score").alias("n"), "rank",
    )


def _q_top_tokens_all(spark, sf_dir):
    """Token-relevance family in one tagged gate: part='count' is the
    corpus-frequency top-20 (the r1 gate), part='bm25' ranks documents
    for a fixed query via operators/relevance (token doubles as the
    generic key column: a token for counts, a doc_id for scores), and
    part='bm25i' answers the SAME query from the bucketed Iceberg
    posting-list index — the oracle proves storage-path == scan-path."""
    counts = _q_top_tokens(spark, sf_dir).select(
        F.lit("count").alias("part"), "token",
        F.col("n").cast("double").alias("n"), "rank",
    )
    bm = _q_bm25_topk(spark, sf_dir).select(
        F.lit("bm25").alias("part"), "token", "n", "rank"
    )
    bmi = _q_bm25_topk_index(spark, sf_dir).select(
        F.lit("bm25i").alias("part"), "token", "n", "rank"
    )
    from robosat_spark.operators.bpe import bpe_corpus_tokens, bpe_train_with_vocab

    merges_df, enc = bpe_train_with_vocab(_t_fan(spark, sf_dir, "documents"), n_merges=8)
    bpe = merges_df.select(
        F.lit("bpe").alias("part"),
        F.concat_ws(" ", "lhs", "rhs").alias("token"),
        F.col("cnt").cast("double").alias("n"),
        F.col("step").alias("rank"),
    )
    # part='bpe_tok': corpus totals under the trained vocab (the APPLY
    # face — same training run, no second loop)
    t0 = bpe_corpus_tokens(enc)
    tok = t0.select(
        F.lit("bpe_tok").alias("part"), F.lit("n_words").alias("token"),
        F.col("n_words").cast("double").alias("n"), F.lit(1).alias("rank"),
    ).unionByName(
        t0.select(
            F.lit("bpe_tok").alias("part"), F.lit("n_tokens").alias("token"),
            F.col("n_tokens").cast("double").alias("n"), F.lit(2).alias("rank"),
        )
    )
    return counts.unionByName(bm).unionByName(bmi).unionByName(bpe).unionByName(tok)


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (operators/bpe): the first 8
    learned character-pair merges over the documents corpus, in training
    order with deterministic tie-breaks. part='bpe' of the top_tokens
    gate (token = 'lhs rhs'); granular bench variant bpe_merges."""
    from robosat_spark.operators.bpe import bpe_train

    return bpe_train(_t_fan(spark, sf_dir, "documents"), n_merges=8)


def _q_doc_fingerprint_rolling(spark, sf_dir):
    """Winnowing-style rolling-hash document fingerprint (pandas-UDF
    path). VALUE-checked: the DuckDB twin replays the identical
    codepoint-polynomial min with list lambdas (brute-force per-window
    reduce — same modulus, base, and window)."""
    import pandas as pd

    from robosat_spark.kernels.hashing import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fp": [rolling_fingerprint(t, window=64) for t in pdf["text"]],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(gen, "doc_id LONG, fp LONG")


def _mask_fixture_expected(zoom: int = 12, size: int = 256, count: int = 32):
    """-> [(x, y, n_polygons, expected_area_m2)] for the mask_vectorize
    fixture tiles, ANALYTICALLY: the oracle rect is axis-aligned, so the
    burned pixel block per tile is the outer product of 1-D pixel-center
    membership tests (pure coordinate arithmetic). The salt-and-pepper
    noise (1%) is erased by the open(8)/close(8) morphology — opening
    requires a 7-px disk of solid noise (p^37 at 1% density), closing
    fills the isolated pepper holes — so the final mask is the block with
    ~3.5-px disk-rounded corners. Expected polygon count is 1 wherever the
    block is at least 7 px in both dimensions (else opening erases it and
    the tile emits no feature); expected area is the shoelace m² of the
    block's border-pixel corner rectangle mapped through the same
    px->world convention the featurizer documents (a convention replay,
    not a kernel run)."""
    import numpy as np

    from robosat_spark.kernels.geometry import close_ring, polygon_area_m2
    from robosat_spark.kernels.mercator import (
        lonlat_to_mercator,
        pixel_to_location,
        tile_xy_bounds,
    )
    from robosat_spark.sources.oracle_features import ORACLE_RECTS

    _fid, rx0, ry0, rx1, ry1 = ORACLE_RECTS[0]
    ex0, ey0 = lonlat_to_mercator(rx0, ry0)
    ex1, ey1 = lonlat_to_mercator(rx1, ry1)
    centers = np.arange(size, dtype=np.float64) + 0.5
    out = []
    for X, Y in _seg_fixture_tiles(zoom, count):
        left, bottom, right, top = tile_xy_bounds(X, Y, zoom)
        sx = size / (right - left)
        sy = size / (top - bottom)
        px0, px1 = (ex0 - left) * sx, (ex1 - left) * sx
        pyt, pyb = (top - ey1) * sy, (top - ey0) * sy
        col = np.where((centers >= min(px0, px1)) & (centers < max(px0, px1)))[0]
        row = np.where((centers >= min(pyt, pyb)) & (centers < max(pyt, pyb)))[0]
        if len(col) < 7 or len(row) < 7:
            continue  # the 7-px opening disk erases the sliver: no feature
        c0, c1, r0, r1 = int(col[0]), int(col[-1]), int(row[0]), int(row[-1])
        # closing at an image border shrinks that side by the disk radius
        # (dilate cannot extend past the image, then erode eats floor(r)=3
        # px back — the BORDER_CONSTANT(0) convention the kernel documents)
        c0, c1 = (c0 + 3 if c0 == 0 else c0), (c1 - 3 if c1 == size - 1 else c1)
        r0, r1 = (r0 + 3 if r0 == 0 else r0), (r1 - 3 if r1 == size - 1 else r1)
        px = np.array([c0, c1, c1, c0], dtype=np.float64)
        py = np.array([r0, r0, r1, r1], dtype=np.float64)
        lon, lat = pixel_to_location(X, Y, zoom, px / size, 1.0 - py / size)
        ring = close_ring(np.column_stack([lon, lat]))
        out.append((X, Y, 1, float(polygon_area_m2(ring))))
    return out


def _q_mask_vectorize(spark, sf_dir):
    """Raster->vector handoff e2e (P1+G14+G10): rasterize the fixture rect
    at z12, synthesize noisy predictions, threshold back to masks, trace
    contours + DP-simplify. VALUE-checked: per-tile polygon count is
    pinned exactly to the analytic block survival table and the traced
    area to within 4% of the analytic border-pixel rectangle (border
    shrink is modelled exactly; the residual is disk-corner rounding,
    seeded edge-pepper notches ~noise x perimeter, and the shoelace-vs-
    pixel-count half-pixel skin — all sub-2% individually at this block
    size) — the tolerance verdict is computed Spark-side and pinned as a
    boolean (the ``feature_merge`` pattern)."""
    from robosat_spark.operators.features import extract_features
    from robosat_spark.operators.rasterize import (
        probs_to_masks,
        rasterize_masks,
        synthesize_probs,
    )

    ft, tiles = _seg_fixture_frames(spark, zoom=12, count=32)
    masks = rasterize_masks(spark, tiles, ft, zoom=12, size=256)
    probs = synthesize_probs(masks, noise=0.01)
    pred = probs_to_masks(probs)
    # simplify at 0.2% of perimeter (~1.2 px): a 1%-eps DP chord can cut
    # up to eps x perimeter deep across the noise-jagged edges (measured
    # 7.8% worst-tile area swing), which would force a vacuous tolerance
    feats = extract_features(pred, denoise_px=8, grow_px=8, simplify_threshold=0.002)
    agg = feats.groupBy("x", "y").agg(
        F.count("*").alias("n_polygons"), F.sum("area_m2").alias("area_m2")
    )
    exp = spark.createDataFrame(
        _mask_fixture_expected(), "x LONG, y LONG, n_exp INT, area_exp DOUBLE"
    )
    # full outer: a kernel polygon on a tile the analytic table excludes
    # (or vice versa) surfaces as an extra/missing row, not a silent drop
    return agg.join(F.broadcast(exp), ["x", "y"], "full_outer").select(
        "x",
        "y",
        F.coalesce("n_polygons", F.lit(0)).cast("int").alias("n_polygons"),
        (F.abs(F.col("area_m2") - F.col("area_exp")) / F.col("area_exp") < 0.04).alias(
            "area_ok"
        ),
    )


def _halo_fixture_expected(
    zoom: int = 12, size: int = 128, overlap: int = 16, count: int = 16
):
    """-> [(x, y, nonzero)] for the halo_stitch fixture tiles, ANALYTIC:
    exact burns of the axis-aligned rect are outer products of 1-D
    pixel-center membership, so each neighbor's contribution to the halo
    canvas is (#member cols in the clipped window) x (#member rows);
    neighbors outside the fixture tile set contribute zeros (the
    nodata-fill convention of ``stitch_halo``)."""
    import numpy as np

    from robosat_spark.kernels.mercator import lonlat_to_mercator, tile_xy_bounds
    from robosat_spark.sources.oracle_features import ORACLE_RECTS

    _fid, rx0, ry0, rx1, ry1 = ORACLE_RECTS[0]
    ex0, ey0 = lonlat_to_mercator(rx0, ry0)
    ex1, ey1 = lonlat_to_mercator(rx1, ry1)
    centers = np.arange(size, dtype=np.float64) + 0.5
    tiles = _seg_fixture_tiles(zoom, count)
    tset = set(tiles)

    def member(X, Y):
        left, bottom, right, top = tile_xy_bounds(X, Y, zoom)
        sx = size / (right - left)
        sy = size / (top - bottom)
        px0, px1 = (ex0 - left) * sx, (ex1 - left) * sx
        pyt, pyb = (top - ey1) * sy, (top - ey0) * sy
        col = (centers >= min(px0, px1)) & (centers < max(px0, px1))
        row = (centers >= min(pyt, pyb)) & (centers < max(pyt, pyb))
        return col, row

    canvas = size + 2 * overlap
    out = []
    for X, Y in tiles:
        nz = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (X + dx, Y + dy) not in tset:
                    continue
                col, row = member(X + dx, Y + dy)
                x0c, y0c = overlap + dx * size, overlap + dy * size
                sx0, sy0 = max(0, -x0c), max(0, -y0c)
                sx1, sy1 = min(size, canvas - x0c), min(size, canvas - y0c)
                if sx1 > sx0 and sy1 > sy0:
                    nz += int(col[sx0:sx1].sum()) * int(row[sy0:sy1].sum())
        out.append((X, Y, nz))
    return out


def _q_halo_stitch(spark, sf_dir):
    """J6/G22 halo exchange over rasterized oracle-rect masks: stitch each
    tile with its 8 neighbors, report nonzero pixels of the halo grid.
    VALUE-checked: exact burns of the axis-aligned rect make every
    neighbor contribution an analytic integer (see
    ``_halo_fixture_expected``); the oracle pins all 16 counts."""
    import numpy as np

    from robosat_spark.operators.halo import stitch_halo
    from robosat_spark.operators.rasterize import decode_masks, rasterize_masks

    ft, tiles = _seg_fixture_frames(spark, zoom=12, count=16)
    masks = rasterize_masks(spark, tiles, ft, zoom=12, size=128)
    halo = stitch_halo(spark, masks, overlap=16)

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            nonzero = [np.count_nonzero(g) for *_, g in decode_masks(batch)]
            yield pa.RecordBatch.from_arrays(
                [batch.column("x"), batch.column("y"), pa.array(nonzero, pa.int64())],
                names=["x", "y", "nonzero"],
            )

    return halo.mapInArrow(gen, "x LONG, y LONG, nonzero LONG")


def _seg_fixture_tiles(zoom: int = 12, count: int = 16) -> list[tuple[int, int]]:
    """First ``count`` cover tiles (sorted by x, y) of oracle rect 0 at
    ``zoom`` — closed-form floor arithmetic: the rect is axis-aligned, so
    its cover is exactly the tile-index box (the same identity the `cover`
    oracle SQL asserts with generate_series)."""
    import math

    from robosat_spark.sources.oracle_features import ORACLE_RECTS

    _fid, x0, y0, x1, y1 = ORACLE_RECTS[0]
    n = float(2**zoom)

    def tx(lon: float) -> int:
        return int(min(max(math.floor((lon + 180.0) / 360.0 * n), 0), int(n) - 1))

    def ty(lat: float) -> int:
        lat = min(max(lat, -85.051128779806604), 85.051128779806604)
        t = math.tan(math.radians(lat))
        return int(
            min(max(math.floor((1.0 - math.asinh(t) / math.pi) / 2.0 * n), 0), int(n) - 1)
        )

    tiles = [
        (X, Y)
        for X in range(tx(x0), tx(x1) + 1)
        for Y in range(ty(y1), ty(y0) + 1)
    ]
    tiles.sort()
    return tiles[:count]


def _seg_fixture_expected(zoom: int = 12, size: int = 128, count: int = 16):
    """-> (n_class1_pixels, (tn, fn, fp, tp)) over the fixture tiles.

    ANALYTIC truth counts: the oracle rect is axis-aligned, so the
    pixel-center-inside burn convention reduces to an outer product of
    1-D column/row membership tests (pure coordinate arithmetic — the
    raster kernel is never executed here). The confusion split replays the
    per-tile seeded salt-and-pepper noise of ``synthesize_probs`` (a test
    scaffold, not an operator under test): with two IDENTICAL noise
    realizations soft-voted, the predicted pixel is exactly
    truth XOR flip, so tn/fn/fp/tp are exact integers."""
    import numpy as np

    from robosat_spark.kernels.mercator import lonlat_to_mercator, tile_xy_bounds
    from robosat_spark.sources.oracle_features import ORACLE_RECTS

    _fid, x0, y0, x1, y1 = ORACLE_RECTS[0]
    ex0, ey0 = lonlat_to_mercator(x0, y0)
    ex1, ey1 = lonlat_to_mercator(x1, y1)
    n1 = 0
    tn = fn = fp = tp = 0
    centers = np.arange(size, dtype=np.float64) + 0.5
    for X, Y in _seg_fixture_tiles(zoom, count):
        left, _bottom, right, top = tile_xy_bounds(X, Y, zoom)
        sx = size / (right - left)
        sy = size / (top - _bottom)
        px0, px1 = (ex0 - left) * sx, (ex1 - left) * sx
        py_top, py_bot = (top - ey1) * sy, (top - ey0) * sy
        col_in = (centers >= min(px0, px1)) & (centers < max(px0, px1))
        row_in = (centers >= min(py_top, py_bot)) & (centers < max(py_top, py_bot))
        truth = np.outer(row_in, col_in)
        n1 += int(truth.sum())
        rng = np.random.RandomState((X * 73856093 ^ Y * 19349663) % (2**31))
        flip = rng.rand(size, size) < 0.02
        tp += int(np.count_nonzero(truth & ~flip))
        fn += int(np.count_nonzero(truth & flip))
        fp += int(np.count_nonzero(~truth & flip))
        tn += int(np.count_nonzero(~truth & ~flip))
    return n1, (tn, fn, fp, tp)


def _seg_fixture_frames(spark, zoom: int = 12, count: int = 16):
    """(feature df, deterministic first-``count`` cover tiles) shared by
    the class_weights / seg_metrics value-checked queries."""
    from robosat_spark.operators.cover import cover
    from robosat_spark.sources.oracle_features import oracle_rect_features

    ft = oracle_rect_features(spark).filter(F.col("feature_id") == 0)
    tiles = cover(ft, zoom=zoom).select("x", "y").orderBy("x", "y").limit(count)
    return ft, tiles


def _q_class_weights(spark, sf_dir):
    """A2/A3 class histogram + 1/ln(1.02+p) weights over rasterized masks.
    VALUE-checked: the oracle pins the histogram to the analytic
    pixel-center counts of the axis-aligned fixture rect and recomputes
    p / weight from those integers with the same formula."""
    from robosat_spark.operators.rasterize import rasterize_masks
    from robosat_spark.operators.weights import class_histogram, class_weights

    ft, tiles = _seg_fixture_frames(spark)
    masks = rasterize_masks(spark, tiles, ft, zoom=12, size=128)
    return class_weights(class_histogram(masks, num_classes=2))


def _merge_cluster_expected_area() -> tuple[int, float]:
    """(min feature_id, analytic merged area in m²) of the fixture
    merge-cluster: 3 rects with 9 m gaps < 2x the 20 m buffer, so the
    morphological closing is the bounding rect of the union up to ~0.5 m
    mouth notches (g²/8r) — analytic equal-area (Mollweide) m² of that
    bounding rect is the expected area within a small tolerance."""
    import numpy as np

    from robosat_spark.kernels.geometry import polygon_area_m2
    from robosat_spark.sources.fixtures import build_feature_rows

    boxes = [
        (fid, bbox)
        for fid, _k, _g, _r, bbox, props in build_feature_rows()
        if props.get("src") == "merge-cluster"
    ]
    min_fid = min(f for f, _ in boxes)
    x0 = min(b[0] for _, b in boxes)
    y0 = min(b[1] for _, b in boxes)
    x1 = max(b[2] for _, b in boxes)
    y1 = max(b[3] for _, b in boxes)
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    return min_fid, polygon_area_m2(ring)


def _q_feature_merge(spark, sf_dir):
    """rs merge e2e on the fixture cluster: adjacency join + connected
    components + per-component union. Value-checked: component label
    (= min member feature_id) and member count are pinned exactly by the
    oracle; the raster-union area is checked against the ANALYTIC closing
    area (bounding rect of the 3-rect cluster in equal-area m²) within 5%
    — the raster/contour/simplify chain has pixel-level noise, so the
    tolerance verdict is computed Spark-side and pinned as a boolean."""
    from robosat_spark.operators.merge import merge_features
    from robosat_spark.sources.fixtures import features as fixture_features

    ft = fixture_features(spark).filter(F.col("props")["src"] == "merge-cluster")
    merged = merge_features(spark, ft, threshold_m=20.0)
    _, expected = _merge_cluster_expected_area()
    return merged.select(
        "component",
        "n_members",
        (F.abs(F.col("area_m2") - F.lit(expected)) / F.lit(expected) < 0.05).alias("area_ok"),
    )


def _q_seg_metrics(spark, sf_dir):
    """P1+P2+A4 e2e: rasterize truth, synthesize two noisy 'model'
    probability sets, soft-vote them back to masks, score vs truth
    (tn/fn/fp/tp + mIoU/fgIoU/MCC). VALUE-checked: the two noise
    realizations share per-tile seeds, so predicted = truth XOR flip and
    the oracle pins the confusion counters to analytic integers (see
    ``_seg_fixture_expected``), recomputing the metric formulas in SQL."""
    from robosat_spark.operators.ensemble import (
        confusion_counts,
        segmentation_metrics,
        soft_vote,
    )
    from robosat_spark.operators.rasterize import rasterize_masks, synthesize_probs

    ft, tiles = _seg_fixture_frames(spark)
    truth = rasterize_masks(spark, tiles, ft, zoom=12, size=128)
    probs_a = synthesize_probs(truth, noise=0.02)
    probs_b = synthesize_probs(truth, noise=0.02)
    voted = soft_vote([probs_a, probs_b], [1.0, 1.0])
    return segmentation_metrics(confusion_counts(voted, truth))


def _q_dedupe_iou(spark, sf_dir):
    """rs dedupe e2e on the fixture IoU pairs: cell join + intersects +
    raster IoU threshold. Non-SQL — rows-only check."""
    from robosat_spark.operators.dedupe import dedupe
    from robosat_spark.sources.fixtures import features as fixture_features

    all_ft = fixture_features(spark)
    pred = all_ft.filter(F.col("props")["src"].like("ioupair-%-a"))
    osm = all_ft.filter(F.col("props")["src"].like("ioupair-%-b"))
    verdicts = dedupe(spark, pred, osm, threshold=0.5)
    return verdicts.select("pred_id", F.round("iou", 2).alias("iou"), "keep")


def _q_asof_click_before_purchase(spark, sf_dir):
    """As-of join (interval member of the join matrix): each purchase event
    matched to the user's latest click at or before it."""
    from robosat_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_id="p_id", left_ts="p_ts",
        right_ts="c_ts", right_id="c_id", how="left",
    )
    return out.select("user_id", "p_id", "p_ts", F.col("r_c_id").alias("c_id"))


def _q_users_retained(spark, sf_dir):
    """Set operators (O4/engine surface): users active in the first week
    INTERSECT users active in the last week of the event range."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    week = 7 * 86400
    early = ev.filter(
        F.col("ts") < F.lit(bounds["lo"]) + F.expr(f"INTERVAL {week} SECOND")
    ).select("user_id")
    late = ev.filter(
        F.col("ts") > F.lit(bounds["hi"]) - F.expr(f"INTERVAL {week} SECOND")
    ).select("user_id")
    return early.intersect(late).select(F.col("user_id").alias("user_id"))


def _q_event_type_pivot(spark, sf_dir):
    """Pivot-shaped conditional aggregation: per-user event-type counts as
    columns (identical conditional-sum structure in the SQL twin)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in types
    ]
    return ev.groupBy("user_id").agg(*aggs)


def _q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs — the EXACT all-pairs baseline,
    gate-only (excluded from bench). Deliberately not LSH-prefiltered: the
    synthetic embeddings have NO similarity gap at the 0.4 threshold
    (measured sf0.01: densest below-threshold pair at 0.400, sparsest
    above at 0.401, 2759 background pairs in [0.25, 0.4)), so no
    sublinear candidate generator can reproduce this exact output — any
    LSH misses pairs sitting in the continuous bulk. The verified SCALE
    plan is `embedding_neardup_lsh` (bucket equi-joins, its DuckDB twin
    replays the identical buckets); real corpora with dups at sim >= 0.9
    get ~1.0 recall there (planted-recall test in tests/test_dedup_ann.py)."""
    from robosat_spark.functions.vectors import cosine_sim

    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).withColumn(
        "sim", cosine_sim(F.col("v_a"), F.col("v_b"))
    )
    return pairs.filter(F.col("sim") >= 0.4).select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    )


def _q_embedding_neardup_lsh(spark, sf_dir):
    """The 100TB-scale embedding near-dup plan, oracle-gated end to end:
    multi-table hyperplane-LSH bucket equi-joins (union of L hash joins —
    no all-pairs BNLJ) + exact cosine refine >= 0.4. The DuckDB twin
    replays the same deterministic buckets, so the value check covers the
    bucketing AND the refine. Recall vs the exact all-pairs baseline is
    quantified separately (tests/test_dedup_ann.py); ``embedding_neardup``
    keeps the exact semantics at oracle scale."""
    from robosat_spark.operators.ann import lsh_neardup_pairs

    emb = _t_fan(spark, sf_dir, "embeddings")
    v = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    return lsh_neardup_pairs(v, threshold=0.4)


def _q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at hamming <= 2, via chunk banding (pigeonhole:
    3 chunks, <= 2 flipped bits => >= 1 chunk identical) — an equi self-join
    on (chunk, value) + bit_count refine. Exact (same result set as the
    all-pairs oracle) with a linear-shuffle plan: no BroadcastNestedLoopJoin
    anywhere (asserted in tests/test_dedup_ann.py)."""
    from robosat_spark.operators.dedup import simhash_pairs_banded

    docs = _t_fan(spark, sf_dir, "documents")
    return simhash_pairs_banded(docs, bits=32, max_hd=2)


def _q_sessionize_gaps(spark, sf_dir):
    """Gap-based sessionization (§2.9 windows: lag + running sum): a new
    session starts when > 30 min passes between a user's events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    flagged = ev.withColumn(
        "new_session",
        F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _q_value_quantiles(spark, sf_dir):
    """Percentiles per event type, exact ∪ sketched (r5 tagged union):
    part='exact' is Spark ``percentile`` == DuckDB quantile_cont (the
    exact path — percentile_approx's t-digest has no cross-engine twin);
    part='hist64' reads the same quantiles off a 64-bin mergeable
    equi-width histogram (operators/sketch.py — the distribution member
    of the sketch family; bins of table slices merge by SUM, error
    bounded by one bin width). Both sides of BOTH engines replay the
    identical double arithmetic, so even the approximation is an exact
    value gate."""
    from robosat_spark.operators.sketch import hist_quantiles

    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    ).select(F.lit("exact").alias("part"), "event_type", "p25", "p50", "p90")
    hq = hist_quantiles(ev, "value", "event_type",
                        {"p25": 0.25, "p50": 0.5, "p90": 0.9}, nb=64)
    hist = hq.select(
        F.lit("hist64").alias("part"), "event_type",
        F.round("p25", 6).alias("p25"), F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
    )
    return exact.unionByName(hist)


def _q_rollup_events(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets surface the reference lacks):
    event counts by (event_type, day) with subtotals and grand total."""
    ev = _t(spark, sf_dir, "events")
    d = ev.withColumn("day", F.to_date("ts"))
    return (
        d.rollup("event_type", "day")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select("event_type", "day", "n", "sum_value")
    )


# ---------------------------------------------------------------------------
# consolidated driver gates (round 4): the driver's correctness window
# records at most 50 queries() entries — redundant variants that share an
# oracle are unioned into ONE gate with a tag column, so every operator
# keeps a driver-green row while the dict stays under the cap (r3's five
# tail gates were silently truncated out of the record). bench.py still
# times the variants individually via bench_queries().
# ---------------------------------------------------------------------------


def _q_pip_assign_all(spark, sf_dir):
    """J2 flagship PIP, all three strategies in one gate (broadcast /
    salted skew-kill / all-JVM): identical result by construction, so the
    union against one oracle cross-joined with the strategy tags proves
    each variant separately — a divergence in any one breaks the hash."""
    out = None
    for tag, fn in (
        ("broadcast", _q_pip_assign),
        ("salted", _q_pip_assign_salted),
        ("jvm", _q_pip_assign_jvm),
    ):
        df = fn(spark, sf_dir).select(
            F.lit(tag).alias("strategy"), "feature_id", "n_pages", "n_urls"
        )
        out = df if out is None else out.unionByName(df)
    return out


def _q_knn_all(spark, sf_dir):
    """J8 kNN, brute-force oracle plan + exact distributed cell plan in
    one gate (same 651-row result, tagged per strategy)."""
    a = _q_knn(spark, sf_dir).select(
        F.lit("brute").alias("strategy"), "url", "feature_id", "rank", "dist_deg"
    )
    b = _q_knn_cells(spark, sf_dir).select(
        F.lit("cells").alias("strategy"), "url", "feature_id", "rank", "dist_deg"
    )
    return a.unionByName(b)


def _q_iceberg_travel(spark, sf_dir):
    """Snapshot-1 time travel + incremental (CDC) append scan in one gate:
    mode='snapshot1' pins the pre-append half per lang (edge = max
    doc_id), mode='appended' pins exactly the appended half (edge = min
    doc_id) — never re-reading snapshot 1's files."""
    from robosat_spark.sources.iceberg import IcebergTable

    t = IcebergTable(_iceberg_documents_path(spark, sf_dir))
    tt = (
        t.scan(spark, snapshot_id=1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.max("doc_id").alias("edge_doc_id"))
        .select(F.lit("snapshot1").alias("mode"), "lang", "n_docs", "edge_doc_id")
    )
    inc = (
        t.scan_incremental(spark, from_snapshot_id=1, to_snapshot_id=2)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("edge_doc_id"))
        .select(F.lit("appended").alias("mode"), "lang", "n_docs", "edge_doc_id")
    )
    return tt.unionByName(inc)


def _q_doc_chunks(spark, sf_dir):
    """Per-doc chunking summary (operators/chunking: 64-token windows,
    16-token overlap, map-side codegen — no shuffle until this agg):
    window count + a 48-bit-md5 XOR over 'idx:text' of every chunk, so
    the gate value-pins every chunk's exact boundary and content (the
    idx prefix stops identical windows from XOR-cancelling)."""
    from robosat_spark.operators.chunking import chunk_documents

    ch = chunk_documents(_t(spark, sf_dir, "documents"))
    fp48 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("chunk_idx").cast("string"),
                              F.col("chunk_text"))), 1, 12,
        ), 16, 10,
    ).cast("long")
    return (
        ch.select("doc_id", "n_chunks", fp48.alias("fp48"))
        .groupBy("doc_id")
        .agg(
            F.max("n_chunks").alias("n_chunks"),
            F.expr("bit_xor(fp48)").alias("fp_chunks"),
        )
    )


def _q_seq_pack(spark, sf_dir):
    """Per-doc sequence-packing summary (operators/chunking.pack_chunks:
    global token-stream cut every 256 tokens via the two-phase
    distributed prefix sum — no single-partition window over the
    chunks): a 48-bit-md5 XOR over 'idx:offset:first:last' of every
    chunk pins each chunk's absolute token offset and sequence
    placement; last_seq pins the doc's final packed-sequence id."""
    from robosat_spark.operators.chunking import chunk_documents, pack_chunks

    docs = _t(spark, sf_dir, "documents")
    # id bounds from the (column-pruned) documents scan — avoids a second
    # pass over the chunk lineage for the adaptive bucket width (r7)
    pk = pack_chunks(chunk_documents(docs), id_bounds=docs.select("doc_id"))
    fp48 = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                ":",
                F.col("chunk_idx").cast("string"),
                F.col("tok_offset").cast("string"),
                F.col("seq_first").cast("string"),
                F.col("seq_last").cast("string"),
            )), 1, 12,
        ), 16, 10,
    ).cast("long")
    return (
        pk.select("doc_id", fp48.alias("fp48"), "seq_last")
        .groupBy("doc_id")
        .agg(
            F.expr("bit_xor(fp48)").alias("fp_pack"),
            F.max("seq_last").alias("last_seq"),
        )
    )


def _q_dup_span_cut(spark, sf_dir):
    """Per-doc ExactSubstr CUT summary (operators/dedup.
    remove_duplicate_spans): a 48-bit-md5 fingerprint of the cleaned text
    value-pins every surviving token and its order, n_cut the removed
    token count. Every doc keeps a row (untouched docs fingerprint their
    space-normalized text with n_cut = 0)."""
    from robosat_spark.operators.dedup import remove_duplicate_spans

    out = remove_duplicate_spans(_t_fan(spark, sf_dir, "documents"), k=5)
    return out.select(
        "doc_id",
        F.conv(F.substring(F.md5("clean_text"), 1, 12), 16, 10).cast("long").alias(
            "fp_nodup"
        ),
        F.col("n_tokens_removed").alias("n_cut"),
    )


def _q_dup_line_cut(spark, sf_dir):
    """Per-doc RefinedWeb-style duplicate-LINE cut summary
    (operators/dedup.remove_duplicate_lines): 48-bit-md5 fingerprint of
    the line-deduped text + removed-line count. Every doc keeps a row."""
    from robosat_spark.operators.dedup import remove_duplicate_lines

    out = remove_duplicate_lines(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.conv(F.substring(F.md5("clean_text"), 1, 12), 16, 10).cast("long").alias(
            "fp_nolines"
        ),
        F.col("n_lines_removed").alias("n_lines_cut"),
    )


def _q_fingerprint_all(spark, sf_dir):
    """Per-doc exact-dup md5 fingerprint + winnowing rolling-hash
    fingerprint + chunking summary + sequence-packing placement +
    ExactSubstr duplicate-span cut summary + duplicate-line cut summary
    in one gate (equi-joins on doc_id)."""
    md5s = _q_fingerprint(spark, sf_dir)
    roll = _q_doc_fingerprint_rolling(spark, sf_dir).withColumnRenamed("fp", "fp_roll")
    return (
        md5s.join(roll, "doc_id")
        .join(_q_doc_chunks(spark, sf_dir), "doc_id")
        .join(_q_seq_pack(spark, sf_dir), "doc_id")
        .join(_q_dup_span_cut(spark, sf_dir), "doc_id")
        .join(_q_dup_line_cut(spark, sf_dir), "doc_id")
    )


def _q_cell_encode_all(spark, sf_dir):
    """Cell-id family in one gate: packed tile id, Bing quadkey, Morton
    Z-code AND the H3-style axial hex cell per geotagged page — all
    unrolled JVM bit/trig arithmetic, one scan."""
    from robosat_spark.functions.tiles import (
        hex_cell,
        morton_cell,
        quadkey,
        unpack_tile_x,
        unpack_tile_y,
    )
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages_from_events

    pts = geotagged_points(pages_from_events(spark, sf_dir), zoom=12)
    x = unpack_tile_x(F.col("tile_id"))
    y = unpack_tile_y(F.col("tile_id"))
    return pts.select(
        "url",
        "tile_id",
        quadkey(x, y, 12).alias("qk"),
        morton_cell(x, y, 12).alias("morton"),
        hex_cell(F.col("lon"), F.col("lat"), 10_000.0).alias("hex_id"),
    )


def _q_text_metrics(spark, sf_dir):
    """Per-doc text-analysis suite in one gate: token/subword counts,
    punct/alpha ratios (token_stats), stopword ratio + composite quality
    (quality_score), shingle repetition (repetition_stats), the
    Gopher-rule signals (mean word length, digit ratio, symbol-per-word,
    bullet/ellipsis line fractions — r4; duplicate line/paragraph
    fractions + top-2-gram char fraction — new r6), and the Lee-et-al.
    exact duplicate-span stats (corpus-wide duplicated 5-gram windows
    merged per doc — new r6). The per-row columns stay whole-stage-codegen
    expressions over ONE documents scan; the two corpus-level signals
    (top-2-gram, dup spans) are linear explode->agg plans LEFT-joined back
    on doc_id."""
    from robosat_spark.functions.text import (
        alpha_ratio,
        bullet_line_ratio,
        digit_ratio,
        dup_line_frac,
        dup_para_frac,
        ellipsis_line_ratio,
        mean_word_length,
        pii_email_count,
        pii_ipv4_count,
        punct_ratio,
        quality_score,
        stopword_ratio,
        subword_count,
        symbol_word_ratio,
        token_count,
    )
    from robosat_spark.operators.dedup import (
        duplicate_spans,
        top_ngram_char_frac,
        word_shingles,
        words,
    )

    docs = _t(spark, sf_dir, "documents")
    w = words(F.col("text"))
    total = F.greatest(F.size(w) - F.lit(2), F.lit(1))
    distinct = F.size(word_shingles(F.col("text"), 3))
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        subword_count(F.col("text")).alias("n_subwords"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(alpha_ratio(F.col("text")), 6).alias("alpha_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
        quality_score(F.col("text")).alias("quality"),
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
        F.round(F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6).alias(
            "rep_ratio"
        ),
        F.round(mean_word_length(F.col("text")), 6).alias("mean_word_len"),
        F.round(digit_ratio(F.col("text")), 6).alias("digit_ratio"),
        F.round(symbol_word_ratio(F.col("text")), 6).alias("symbol_word_ratio"),
        F.round(bullet_line_ratio(F.col("text")), 6).alias("bullet_line_ratio"),
        F.round(ellipsis_line_ratio(F.col("text")), 6).alias("ellipsis_line_ratio"),
        F.round(dup_line_frac(F.col("text")), 6).alias("dup_line_frac"),
        F.round(dup_para_frac(F.col("text")), 6).alias("dup_para_frac"),
        pii_email_count(F.col("text")).alias("n_pii_emails"),
        pii_ipv4_count(F.col("text")).alias("n_pii_ips"),
    )
    docs_fan = _t_fan(spark, sf_dir, "documents")  # heavy corpus-level branches
    top2 = top_ngram_char_frac(docs_fan, n=2).select(
        "doc_id", F.col("top_frac").alias("top2gram_char_frac")
    )
    spans = duplicate_spans(docs_fan, k=5)
    return (
        base.join(top2, "doc_id", "left")
        .join(spans, "doc_id", "left")
        .select(
            base["*"],
            F.coalesce("top2gram_char_frac", F.lit(0.0)).alias("top2gram_char_frac"),
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias("n_dup_spans"),
            F.coalesce("dup_span_tokens", F.lit(0).cast("long")).alias("dup_span_tokens"),
            F.round(
                F.coalesce("dup_span_tokens", F.lit(0)).cast("double")
                / F.greatest("n_tokens", F.lit(1)).cast("double"),
                6,
            ).alias("dup_span_frac"),
        )
        # bigram-LM fluency columns (late r6): every doc has exactly one
        # row on both sides, so an equi inner join folds them in
        .join(_q_lm_score(spark, sf_dir), "doc_id")
    )


def _q_lm_score(spark, sf_dir):
    """Corpus-trained add-one bigram LM scored per doc (CCNet-class
    quality signal, operators/lm.py): int64 micro-unit log-prob sum +
    per-token perplexity. Granular bench variant; correctness flows
    through the text_metrics consolidated gate."""
    from robosat_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


# 12 host shapes covering composite public suffixes (bbc.co.uk), deep
# subdomains, blocklisted domains at two depths, and a single-label host;
# x.news.co.uk is the load-bearing case — it is blocked ONLY under the
# public-suffix rule (the bare last-two-label heuristic maps it to co.uk,
# which is not on the list)
_URL_HOSTS = (
    "www.example.com", "news.bbc.co.uk", "example.co.uk", "blog.shop.com.au",
    "spamsite.com", "cdn.spamsite.com", "tracker.adnet.org", "x.news.co.uk",
    "a.b.c.example.org", "localhost", "docs.python.org", "shop.co.jp",
)
_URL_BLOCKLIST = ("spamsite.com", "adnet.org", "news.co.uk")


def _q_url_curation(spark, sf_dir):
    """URL-curation suite in one tagged gate (r4 VERDICT item 2 — the
    only first-class LLM-pipeline family that had no CORRECTNESS entry):
    part='domain_counts' is corpus composition by eTLD+1 registered
    domain (functions/urls.py, embedded public-suffix subset);
    part='survivors' is the page count surviving the broadcast-anti-join
    domain blocklist; part='redacted_fp' is a 48-bit-md5 content
    fingerprint XOR over redact_pii(text) (emails -> <EMAIL>, IPv4 ->
    <IP>), value-pinning the release-time redaction pass (XOR, not SUM:
    a sum of 2^47-scale fingerprints overflows int64 past ~65k docs —
    Spark would wrap silently while DuckDB's HUGEINT sum throws on the
    BIGINT cast; XOR is order-insensitive and width-stable at any corpus
    size). ``documents``
    carries no url column, so one is synthesized deterministically from
    doc_id over 12 host shapes (both engines replay the same printf)."""
    import pyarrow as pa

    from robosat_spark.functions.text import redact_pii
    from robosat_spark.functions.urls import domain_counts, filter_blocklisted_domains

    docs = _t(spark, sf_dir, "documents")
    host = F.element_at(
        F.array([F.lit(h) for h in _URL_HOSTS]),
        (F.col("doc_id") % len(_URL_HOSTS)).cast("int") + 1,
    )
    pages = docs.select(
        F.format_string("https://%s/d/%d", host, F.col("doc_id")).alias("url")
    )
    # an Arrow table plans a LocalTableScan, not a Scan ExistingRDD
    blocklist = spark.createDataFrame(
        pa.table({"domain": pa.array(list(_URL_BLOCKLIST), pa.string())})
    )
    counts = domain_counts(pages).select(
        F.lit("domain_counts").alias("part"),
        F.col("domain").alias("key"),
        F.col("n_pages").alias("n"),
    )
    survivors = (
        filter_blocklisted_domains(pages, blocklist)
        .agg(F.count("*").alias("n"))
        .select(F.lit("survivors").alias("part"), F.lit("total").alias("key"), "n")
    )
    red = (
        docs.select(
            F.conv(F.substring(F.md5(redact_pii(F.col("text"))), 1, 12), 16, 10)
            .cast("long")
            .alias("fp")
        )
        .agg(F.expr("bit_xor(fp)").alias("n"))
        .select(F.lit("redacted_fp").alias("part"), F.lit("md5_48bit_xor").alias("key"), "n")
    )
    return counts.unionByName(survivors).unionByName(red)


def _iceberg_documents_fixture(spark, sf_dir: str, tag: str, target_version: int,
                               build) -> str:
    """Build-once Iceberg fixture over ``documents``, keyed by the input
    parquet stat fingerprint and the writer's source (``_fixture_key``).
    Crash-idempotent: a table below
    ``target_version`` is a partial build (e.g. the base append committed
    but the delete/upsert step did not), so it is REMOVED and rebuilt
    from scratch — re-running ``build`` on a half-built table would
    append the base rows a second time and the stable cache key would
    then pin the corrupt table forever."""
    import os
    import shutil
    import tempfile

    from robosat_spark.sources.iceberg import current_version

    key = _fixture_key(sf_dir, "documents", tag)
    path = os.path.join(tempfile.gettempdir(), f"robosat_iceberg_{tag}_{key}")
    if current_version(path) < target_version:
        shutil.rmtree(path, ignore_errors=True)
        build(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")), path)
    return path


def _iceberg_deleted_documents_path(spark, sf_dir: str) -> str:
    """Build-once Iceberg table over ``documents`` with a POSITION-DELETE
    snapshot tombstoning ``doc_id % 7 == 0`` — the v2 merge-on-read
    row-level delete surface under a value gate."""
    from robosat_spark.sources.iceberg import delete_rows, write_iceberg

    def build(docs, path):
        write_iceberg(
            spark, docs, path, partition_by="lang", stats_cols=("doc_id",),
            timestamp_ms=1000,
        )
        delete_rows(spark, path, predicate=F.col("doc_id") % 7 == 0, timestamp_ms=2000)

    return _iceberg_documents_fixture(spark, sf_dir, "del", 2, build)


def _iceberg_upserted_documents_path(spark, sf_dir: str) -> str:
    """Build-once Iceberg table over ``documents`` with an UPSERT on top:
    rows with ``doc_id % 10 == 0`` re-written with ``n_chars + 1000000``
    via equality-delete-by-key + append — the v2 MERGE primitive a
    mutable 100 TB table lives on, under a value gate (r4 VERDICT item 3:
    this path was pytest-only)."""
    from robosat_spark.sources.iceberg import upsert, write_iceberg

    def build(docs, path):
        write_iceberg(
            spark, docs, path, partition_by="lang", stats_cols=("doc_id",),
            timestamp_ms=1000,
        )
        changed = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(1000000)
        )
        upsert(spark, path, changed, key_cols=["doc_id"], timestamp_ms=2000)

    return _iceberg_documents_fixture(spark, sf_dir, "ups", 3, build)


def _q_iceberg_deletes(spark, sf_dir):
    """Iceberg v2 row-level deletes e2e, BOTH delete families in one
    tagged gate (r5 extends the r4 position-only gate): part='position'
    is the merge-on-read scan over the position-tombstoned table (must
    equal documents MINUS exactly the doc_id % 7 == 0 rows); part=
    'upsert' is the scan after equality-delete-by-key + append (must
    equal documents with the doc_id % 10 == 0 rows superseded by their
    n_chars+1000000 versions — proving the sequence-number-gated
    equality anti-join deletes old versions and keeps the new ones)."""
    from robosat_spark.sources.iceberg import IcebergTable

    def agg(df, part):
        return df.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("doc_id").alias("max_doc_id"),
        ).select(F.lit(part).alias("part"), "lang", "n_docs", "total_chars", "max_doc_id")

    pos = IcebergTable(_iceberg_deleted_documents_path(spark, sf_dir)).scan(spark)
    ups = IcebergTable(_iceberg_upserted_documents_path(spark, sf_dir)).scan(spark)
    return agg(pos, "position").unionByName(agg(ups, "upsert"))


def _q_iceberg_scan_all(spark, sf_dir):
    """Current-snapshot Iceberg scan through BOTH planners plus the
    bucket-transform paths in one gate: the driver-side planner
    (partition pruning), the executor-side distributed manifest fan-out,
    three point lookups through a bucket[8]-partitioned table (manifest
    pruning proves ``doc_id = ?`` lives only in partition
    ``bucket(?)``), the spec murmur3 bucket values themselves
    computed over every row (functions/bucket — the DuckDB twin replays
    the identical 32-bit arithmetic, pinning both engines to the
    published Iceberg spec vectors), and the shuffle-free bucket-map
    join of two co-located bucket[8] tables (sources/iceberg.bucket_join).
    One oracle x all tags."""
    a = _q_iceberg_scan(spark, sf_dir).select(
        F.lit("driver").alias("planner"), "source", "n_docs", "total_chars"
    )
    b = _q_iceberg_scan_distributed(spark, sf_dir).select(
        F.lit("executors").alias("planner"), "source", "n_docs", "total_chars"
    )
    return (
        a.unionByName(b)
        .unionByName(_q_iceberg_bucket(spark, sf_dir))
        .unionByName(_q_iceberg_bucket_join(spark, sf_dir))
    )


_BUCKET_LOOKUP_IDS = (37, 205, 498)  # present at every SF (doc_id 0..499+)


def _iceberg_bucket_docs_path(spark, sf_dir: str) -> str:
    """Build-once bucket[8]-partitioned Iceberg table over ``documents``
    keyed by doc_id — the keyed-table layout of a mutable corpus (the
    identity transform would mint one directory per doc_id)."""
    from robosat_spark.sources.iceberg import write_iceberg

    def build(docs, path):
        write_iceberg(
            spark, docs, path, partition_by="doc_id",
            partition_transform="bucket[8]",
            stats_cols=("doc_id", "n_chars"), timestamp_ms=1000,
        )

    return _iceberg_documents_fixture(spark, sf_dir, "bucket8", 1, build)


def _iceberg_bucket_dim_path(spark, sf_dir: str) -> str:
    """Build-once companion table bucketed with the SAME bucket[8] layout
    on doc_id: every 3rd document with a derived ``boost`` column — the
    co-located dimension side of the bucket-map join."""
    from robosat_spark.sources.iceberg import write_iceberg

    def build(docs, path):
        dim = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", (F.col("doc_id") % 97).alias("boost")
        )
        write_iceberg(
            spark, dim, path, partition_by="doc_id",
            partition_transform="bucket[8]", stats_cols=("doc_id",),
            timestamp_ms=1000,
        )

    return _iceberg_documents_fixture(spark, sf_dir, "bucket8dim", 1, build)


def _q_iceberg_bucket_join(spark, sf_dir):
    """bucket_join part of the iceberg_scan gate: the storage-co-located
    bucket-map join of the bucket[8] documents table against its bucket[8]
    companion (every 3rd doc_id + a boost column) — N per-bucket
    broadcast joins, zero shuffle of either side (plan-asserted in
    test_bucket). Summing n_chars + boost pins right-side column
    transport through the join, not just its cardinality."""
    from robosat_spark.sources.iceberg import bucket_join

    j = bucket_join(
        spark,
        _iceberg_bucket_docs_path(spark, sf_dir),
        _iceberg_bucket_dim_path(spark, sf_dir),
        "doc_id",
    )
    return (
        j.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.col("n_chars") + F.col("boost")).alias("total_chars"))
        .select(F.lit("bucketjoin").alias("planner"), "source",
                "n_docs", "total_chars")
    )


def _q_iceberg_bucket(spark, sf_dir):
    """Bucket-transform parts of the iceberg_scan gate: per-key point
    lookups through bucket pruning (results must be storage-invisible)
    and the per-bucket composition of the whole table (cross-engine
    value proof of the murmur3 bucket expression)."""
    from robosat_spark.functions.bucket import with_bucket_long
    from robosat_spark.sources.iceberg import IcebergTable

    t = IcebergTable(_iceberg_bucket_docs_path(spark, sf_dir))
    parts = []
    for k in _BUCKET_LOOKUP_IDS:
        parts.append(
            t.scan(spark, filters=[("doc_id", "=", k)])
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .select(F.lit(f"lookup{k}").alias("planner"), "source",
                    "n_docs", "total_chars")
        )
    vals = (
        with_bucket_long(
            t.scan(spark).select("doc_id", "n_chars"), "doc_id", "b", 8
        )
        .groupBy("b")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(F.lit("bucketvals").alias("planner"),
                F.col("b").cast("string").alias("source"),
                "n_docs", "total_chars")
    )
    out = parts[0]
    for p in parts[1:] + [vals]:
        out = out.unionByName(p)
    return out


def _q_contamination(spark, sf_dir):
    """Benchmark decontamination scan (new r4): per-document 3-shingle
    overlap against a benchmark set (here: the deterministic doc_id % 17
    pseudo-eval subset, guaranteeing planted overlap). The op every
    training pipeline runs before shipping a corpus — docs quoting an
    eval suite inflate downstream scores. Linear plan: distinct benchmark
    shingles broadcast, explode + broadcast semi-join + count."""
    from robosat_spark.operators.dedup import benchmark_overlap

    docs = _t_fan(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return benchmark_overlap(docs, bench, k=3)


def _q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-URL sketch, single-pass ∪ storage-roundtrip
    merge in one tagged gate (r5 VERDICT item 4 extends the r4 gate):
    part='single' is the register table + estimate straight off the pages
    scan; part='merged' sketches TWO url-parity slices of the same pages,
    PERSISTS each slice's registers as its own Iceberg table, reads both
    back through the connector, and merges by bucket-wise MAX
    (operators/sketch.merge_sketch_slices) — the sketch-per-day /
    merge-later lineage pattern a 100 TB corpus runs, proven through
    storage, not just in memory. Both parts must be value-identical
    (hash/rho/estimator engine-replayable; the DuckDB twin emits the one
    register table under both tags)."""
    from robosat_spark.operators.sketch import hll_estimate, merge_sketch_slices
    from robosat_spark.sources.iceberg import IcebergTable

    single = _q_hll_single(spark, sf_dir)
    slices = [
        IcebergTable(p).scan(spark) for p in _hll_slice_tables(spark, sf_dir)
    ]
    regs = merge_sketch_slices(slices, "hll")
    merged = regs.crossJoin(F.broadcast(regs.agg(hll_estimate(p=6))))
    return single.select(F.lit("single").alias("part"), "*").unionByName(
        merged.select(F.lit("merged").alias("part"), "*")
    )


def _q_hll_single(spark, sf_dir):
    """The r4 single-pass HLL plan (bench keeps timing it under the
    historical name): map-side combine collapses each scan partition to
    <= 2^p rows before the shuffle."""
    from robosat_spark.operators.sketch import hll_distinct
    from robosat_spark.sources.pages import pages_from_events

    return hll_distinct(pages_from_events(spark, sf_dir), "url", p=6)


def _q_hll_merged(spark, sf_dir):
    """Bench variant: the storage-roundtrip merge path alone (slice
    tables are build-once, so the wall measures scan+merge, not write)."""
    from robosat_spark.operators.sketch import hll_estimate, merge_sketch_slices
    from robosat_spark.sources.iceberg import IcebergTable

    regs = merge_sketch_slices(
        [IcebergTable(p).scan(spark) for p in _hll_slice_tables(spark, sf_dir)],
        "hll",
    )
    return regs.crossJoin(F.broadcast(regs.agg(hll_estimate(p=6))))


def _hll_slice_tables(spark, sf_dir: str) -> list[str]:
    """Build-once: two Iceberg tables, each holding the HLL register
    table of one url-parity slice of pages — the stored per-slice sketch
    artifact of the merge gate. Keyed by the events parquet stat
    fingerprint and the writer's source (``_fixture_key``);
    crash-idempotent: any table below version 1 triggers a full rebuild
    of BOTH (a half-built pair would merge a stale slice)."""
    import os
    import shutil
    import tempfile

    from robosat_spark.operators.sketch import hll_buckets
    from robosat_spark.sources.iceberg import current_version, write_iceberg
    from robosat_spark.sources.pages import pages_from_events

    key = _fixture_key(sf_dir, "events")
    base = os.path.join(tempfile.gettempdir(), f"robosat_hll_slices_{key}")
    paths = [os.path.join(base, f"slice{i}") for i in range(2)]
    if any(current_version(p) < 1 for p in paths):
        shutil.rmtree(base, ignore_errors=True)
        pages = pages_from_events(spark, sf_dir)
        # url ends in the event id's last digit: parity splits the table
        # into two disjoint covering slices, deterministically
        even = F.substring("url", -1, 1).isin([str(d) for d in range(0, 10, 2)])
        for path, cond in zip(paths, [even, ~even]):
            write_iceberg(
                spark, hll_buckets(pages.filter(cond), "url", p=6), path,
                timestamp_ms=1000,
            )
    return paths


def _q_iceberg_scan_distributed(spark, sf_dir):
    """The 100x-scale manifest-planning path, value-gated (round-3 review
    item): executor-side Avro manifest fan-out (scan_manifests_distributed,
    sources/iceberg.py) plans the file list as a DataFrame; reading those
    files with the lang='en' predicate re-applied must equal the plain
    documents truth — the SAME oracle as the driver-side planner's
    iceberg_scan, pinning the two planners to each other."""
    from robosat_spark.sources.avro_codec import read_container_file
    from robosat_spark.sources.iceberg import (
        IcebergTable,
        scan_manifests_distributed,
        spark_schema_ddl,
    )

    t = IcebergTable(_iceberg_documents_path(spark, sf_dir))
    snap = t._resolve_snapshot()
    _s, manifests = read_container_file(snap["manifest-list"])
    files = scan_manifests_distributed(spark, [m["manifest_path"] for m in manifests])
    paths = sorted(r["file_path"] for r in files.select("file_path").distinct().collect())
    df = spark.read.schema(spark_schema_ddl(t.schema_fields)).parquet(*paths)
    return (
        df.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries — the driver records the first 50, so the count
    # is pinned by tests/test_entry.py (r4 shipped a stale "47" comment
    # with 50 real entries; an off-by-N belief here is how gates fall out
    # of the window). New gates lead; consolidated gates carry variants.
    return {
        # r3's truncated tail — first so they can never fall out again
        "halo_stitch": _q_halo_stitch,
        "class_weights": _q_class_weights,
        "seg_metrics": _q_seg_metrics,
        "feature_merge": _q_feature_merge,
        "dedupe_iou": _q_dedupe_iou,
        # new r5 gate (slot freed by folding anti_join into semi_join)
        "url_curation": _q_url_curation,
        # new r6 gate (slot freed by folding users_retained into semi_join)
        "pagerank": _q_pagerank,
        # r4 gates (iceberg_deletes extended r5: position ∪ upsert)
        "iceberg_deletes": _q_iceberg_deletes,
        "hll_distinct": _q_hll_distinct,
        "cms_tokens": _q_cms_tokens,
        "contamination": _q_contamination,
        # consolidated variant gates
        "pip_assign": _q_pip_assign_all,
        "knn": _q_knn_all,
        "iceberg_time_travel": _q_iceberg_travel,
        "fingerprint": _q_fingerprint_all,
        "cell_encode": _q_cell_encode_all,
        "text_metrics": _q_text_metrics,
        # the rest (unchanged semantics)
        "pricing_summary": _q_pricing_summary,
        "market_join": _q_market_join,
        "semi_join": _q_semi_join,
        "latest_event_per_user": _q_latest_event_per_user,
        "sessionize": _q_sessionize,
        "sessionize_gaps": _q_sessionize_gaps,
        "rollup_events": _q_rollup_events,
        "value_quantiles": _q_value_quantiles,
        "asof_click_before_purchase": _q_asof_click_before_purchase,
        "event_type_pivot": _q_event_type_pivot,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_neardup_lsh": _q_embedding_neardup_lsh,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "tile_encode": _q_tile_encode,
        "tile_adjacency": _q_tile_adjacency,
        "morton_bbox": _q_morton_bbox,
        "tile_pyramid_rollup": _q_tile_pyramid_rollup,
        "dedup_exact": _q_dedup_exact_all,
        "lang_id": _q_lang_all,
        "sample_split": _q_sample_split,
        "knn_label_accuracy": _q_knn_label_accuracy,
        "ann_cosine": _q_ann_all,
        "cover": _q_cover,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_jaccard_prefix": _q_dedup_jaccard_prefix,
        "iceberg_scan": _q_iceberg_scan_all,
        "iceberg_pages_pip": _q_iceberg_pages_pip,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_clusters": _q_dedup_clusters,
        "knn_label_accuracy_ivf": _q_knn_label_accuracy_ivf,
        "road_widths": _q_road_widths,
        "top_tokens": _q_top_tokens_all,
        "mask_vectorize": _q_mask_vectorize,
    }


def _q_dup_spans(spark, sf_dir):
    """Bench variant: corpus-wide duplicate 5-gram spans alone (the heavy
    corpus-level stage of the extended text_metrics gate)."""
    from robosat_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_t_fan(spark, sf_dir, "documents"), k=5)


def _q_top2gram(spark, sf_dir):
    """Bench variant: Gopher top-2-gram char fraction alone."""
    from robosat_spark.operators.dedup import top_ngram_char_frac

    return top_ngram_char_frac(_t_fan(spark, sf_dir, "documents"), n=2)


def _force_eval(fn):
    """Bench-only wrapper: reduce a per-doc result to ≤64 hash-bucket
    count rows so `.count()` must evaluate every column of every row.
    Catalyst defeats weaker forms: it ELIMINATES a unique-key left join
    under count() (per-doc operators ending in base⋈perdoc timed as a
    bare id scan), and under a GLOBAL agg it prunes the aggregate
    expressions too because the cardinality is statically 1 (proven by an
    ANSI overflow that only fired under collect(), never under the timed
    count()). Grouping on a hash of all columns makes the row count
    data-dependent, so nothing can be pruned."""

    def wrapped(spark, sf_dir):
        df = fn(spark, sf_dir)
        return df.groupBy(
            F.pmod(F.xxhash64(*df.columns), F.lit(64)).alias("g")
        ).agg(F.count("*").alias("n"))

    return wrapped


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Granular per-variant queries for bench.py: the consolidated driver
    gates union several plans, which would blur per-plan walls — the bench
    keeps timing each variant under its historical name so per-query
    numbers stay diffable round-over-round."""
    qs = dict(queries())
    qs.update(
        {
            "iceberg_scan": _q_iceberg_scan,
            "iceberg_scan_distributed": _q_iceberg_scan_distributed,
            "pip_assign": _q_pip_assign,
            "pip_assign_salted": _q_pip_assign_salted,
            "pip_assign_jvm": _q_pip_assign_jvm,
            "knn": _q_knn,
            "knn_cells": _q_knn_cells,
            "iceberg_time_travel": _q_iceberg_time_travel,
            "iceberg_incremental": _q_iceberg_incremental,
            "fingerprint": _q_fingerprint,
            "doc_fingerprint_rolling": _q_doc_fingerprint_rolling,
            "cell_encode": _q_cell_encode,
            "hex_encode": _q_hex_encode,
            "token_stats": _q_token_stats,
            "quality_score": _q_quality_score,
            "repetition_stats": _q_repetition_stats,
            "ann_cosine": _q_ann_cosine,
            "ann_ivf": _q_ann_ivf,
            "hll_distinct": _q_hll_single,
            "hll_merged": _q_hll_merged,
            "iceberg_bucket": _q_iceberg_bucket,
            "lang_id": _q_lang_id,
            "lang_confusion": _q_lang_confusion,
            "top_tokens": _q_top_tokens,
            "bm25_rank": _q_bm25_topk,
            "bm25_index": _q_bm25_topk_index,
            "doc_chunks": _q_doc_chunks,
            "seq_pack": _q_seq_pack,
            "iceberg_bucket_join": _q_iceberg_bucket_join,
            "users_retained": _q_users_retained,
            "dedup_exact": _q_dedup_exact,
            "dedup_incremental": _q_dedup_incremental,
            "dup_spans": _q_dup_spans,
            "dup_span_cut": _force_eval(_q_dup_span_cut),
            "top2gram": _q_top2gram,
            "lm_score": _force_eval(_q_lm_score),
            "bpe_merges": _q_bpe_merges,
            "dsir_weights": _force_eval(_q_dsir_weights),
            "dup_line_cut": _force_eval(_q_dup_line_cut),
        }
    )
    return qs


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# events-derived pages (mirrors robosat_spark.sources.pages.ORACLE_PAGES_SQL)
_PAGES = """
  SELECT printf('https://example.org/e/%08d', event_id) AS url,
         ts AS warc_ts,
         CASE WHEN event_id % 10 < 8
              THEN CAST(printf('%.7f', ((event_id * 104729) % 160000) / 1000.0 - 80.0) AS DOUBLE)
              ELSE NULL END AS lat,
         CASE WHEN event_id % 10 < 8
              THEN CAST(printf('%.7f', ((event_id * 7919) % 360000) / 1000.0 - 180.0) AS DOUBLE)
              ELSE NULL END AS lon
  FROM events
"""


def _tile_sql(zoom: int, lon: str = "lon", lat: str = "lat"):
    """SQL twins of functions.tiles.tile_x/tile_y/pack_tile_id — identical
    literal structure for bit-identical floors."""
    n = float(2**zoom)
    nmax = int(n) - 1
    tx = f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 360.0 * {n!r}), 0), {nmax}) AS BIGINT)"
    clip = f"LEAST(GREATEST({lat}, -{LAT_LIMIT}), {LAT_LIMIT})"
    t = f"TAN(RADIANS({clip}))"
    asinh_t = f"LN({t} + SQRT({t} * {t} + 1.0))"
    ty = (
        f"CAST(LEAST(GREATEST(FLOOR((1.0 - {asinh_t} / {PI}) / 2.0 * {n!r}), 0), {nmax}) AS BIGINT)"
    )
    pack = f"((CAST({zoom} AS BIGINT) << 58) | (tx << 29) | ty)"
    return tx, ty, pack


def oracle_sql() -> dict[str, str]:
    from robosat_spark.functions.text import LANG_MARKERS, STOPWORDS_EN  # noqa: F401
    from robosat_spark.operators.dedup import shingles_sql, simhash_sql
    from robosat_spark.sources.oracle_features import ORACLE_RECTS, rect_centroids_vertexmean

    tx12, ty12, pack12 = _tile_sql(12)

    sql = {}

    sql["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["market_join"] = """
        SELECT 'segment' AS part, c_mktsegment AS key,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               COUNT(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'nation' AS part, n_name AS key,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               COUNT(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """

    sql["semi_join"] = """
        SELECT 'semi' AS part, o_orderpriority AS key, COUNT(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority
        UNION ALL
        SELECT 'anti' AS part, c_mktsegment AS key, COUNT(*) AS n
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'retained' AS part, CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n
        FROM events
        WHERE user_id IN (
          SELECT user_id FROM events
          WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL 604800 SECOND
          INTERSECT
          SELECT user_id FROM events
          WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL 604800 SECOND
        )
        GROUP BY user_id
    """

    from robosat_spark.functions.text import PII_EMAIL_RE, PII_IPV4_RE
    from robosat_spark.functions.urls import registered_domain_sql

    _hosts_list = ", ".join(f"'{h}'" for h in _URL_HOSTS)
    _blocked = ", ".join(f"'{d}'" for d in _URL_BLOCKLIST)
    _dom = registered_domain_sql("regexp_extract(url, '^[a-z]+://([^/]+)/', 1)")
    # replacement ORDER matches redact_pii: emails first, then IPv4; 'g'
    # flag because DuckDB regexp_replace is first-match-only by default
    # (Spark replaces all)
    _redacted = (
        f"regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_IPV4_RE}', '<IP>', 'g')"
    )
    sql["url_curation"] = f"""
        WITH pages AS (
          SELECT printf('https://%s/d/%d',
                        ([{_hosts_list}])[CAST(doc_id % {len(_URL_HOSTS)} AS INT) + 1],
                        doc_id) AS url
          FROM documents
        ),
        dom AS (SELECT {_dom} AS domain FROM pages)
        SELECT 'domain_counts' AS part, domain AS key, COUNT(*) AS n
        FROM dom GROUP BY domain
        UNION ALL
        SELECT 'survivors' AS part, 'total' AS key, COUNT(*) AS n
        FROM dom WHERE domain NOT IN ({_blocked})
        UNION ALL
        SELECT 'redacted_fp' AS part, 'md5_48bit_xor' AS key,
               bit_xor(('0x' || substr(md5({_redacted}), 1, 12))::BIGINT) AS n
        FROM documents
    """

    sql["latest_event_per_user"] = """
        SELECT user_id, event_id, ts, event_type
        FROM (SELECT user_id, event_id, ts, event_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """

    sql["sessionize"] = """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
        FROM events
        GROUP BY 1, 2
    """

    sql["sessionize_gaps"] = """
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
          SELECT user_id, ts,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    """

    sql["rollup_events"] = """
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
               ROUND(SUM(value), 6) AS sum_value
        FROM events
        GROUP BY ROLLUP (event_type, day)
    """

    sql["asof_click_before_purchase"] = """
        WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events WHERE event_type = 'click')
        SELECT user_id, p_id, p_ts, c_id FROM (
          SELECT p.user_id, p.p_id, p.p_ts, c.c_id,
                 ROW_NUMBER() OVER (PARTITION BY p.p_id
                                    ORDER BY c.c_ts DESC NULLS LAST, c.c_id DESC NULLS LAST) AS rn
          FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.c_ts <= p.p_ts)
        WHERE rn = 1
    """

    from robosat_spark.operators.sketch import hist_quantiles_sql

    _hq = hist_quantiles_sql(
        "events", "value", "event_type", {"p25": 0.25, "p50": 0.5, "p90": 0.9}, nb=64
    )
    sql["value_quantiles"] = f"""
        SELECT 'exact' AS part, event_type,
               ROUND(quantile_cont(value, 0.25), 6) AS p25,
               ROUND(quantile_cont(value, 0.5), 6) AS p50,
               ROUND(quantile_cont(value, 0.9), 6) AS p90
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'hist64' AS part, event_type,
               ROUND(p25, 6) AS p25, ROUND(p50, 6) AS p50, ROUND(p90, 6) AS p90
        FROM ({_hq})
    """

    # pagerank: the twin rebuilds the identical md5 link graph and
    # unrolls the 8 fixed-point iterations (all-integer arithmetic —
    # bit-exact cross-engine, no float summation-order hazard at all)
    from robosat_spark.operators.graph import pagerank_sql, synthetic_web_edges_sql

    sql["pagerank"] = pagerank_sql(
        synthetic_web_edges_sql("documents"), num_iters=8
    )

    sql["event_type_pivot"] = """
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        FROM events GROUP BY user_id
    """

    # cosine twins are the FOLD-EXACT expression (same arithmetic order as
    # Spark's F.aggregate, bit-identical doubles — verified in
    # tests/test_dedup_ann.py), not list_cosine_similarity: a ranking
    # window or threshold on top of a cosine must not depend on ulp-level
    # summation-order differences between engines.
    from robosat_spark.functions.vectors import (
        NEARDUP_LSH_SEEDS,
        cosine_sim_sql,
        lsh_bucket_sql,
    )

    sql["embedding_neardup"] = f"""
        WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT id_a, id_b, ROUND(sim, 6) AS sim
        FROM (SELECT a.id AS id_a, b.id AS id_b, {cosine_sim_sql("a.v", "b.v")} AS sim
              FROM v a JOIN v b ON a.id < b.id)
        WHERE sim >= 0.4
    """

    bucket_cols = ", ".join(
        f"{lsh_bucket_sql('v', seeds)} AS b{t}" for t, seeds in enumerate(NEARDUP_LSH_SEEDS)
    )
    bucket_or = " OR ".join(f"a.b{t} = c.b{t}" for t in range(len(NEARDUP_LSH_SEEDS)))
    sql["embedding_neardup_lsh"] = f"""
        WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT id, v, {bucket_cols} FROM v)
        SELECT id_a, id_b, ROUND(sim, 6) AS sim
        FROM (SELECT a.id AS id_a, c.id AS id_b, {cosine_sim_sql("a.v", "c.v")} AS sim
              FROM b a JOIN b c ON a.id < c.id AND ({bucket_or}))
        WHERE sim >= 0.4
    """

    sql["dedup_simhash_pairs"] = f"""
        WITH s AS (SELECT doc_id, {simhash_sql(32)} AS sh FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sh, b.sh)) AS hd
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 2
    """

    sql["tile_encode"] = f"""
        SELECT {pack12} AS tile_id, COUNT(*) AS n_pages
        FROM (SELECT {tx12} AS tx, {ty12} AS ty
              FROM ({_PAGES}) WHERE lon IS NOT NULL AND lat IS NOT NULL)
        GROUP BY 1
    """

    sql["morton_bbox"] = f"""
        SELECT COUNT(*) AS n_pages, COUNT(DISTINCT url) AS n_urls
        FROM ({_PAGES})
        WHERE lon IS NOT NULL AND lat IS NOT NULL
          AND lon >= -120.0 AND lon <= -60.0 AND lat >= 10.0 AND lat <= 50.0
    """

    sql["tile_adjacency"] = f"""
        WITH tiles AS (
          SELECT DISTINCT {tx12} AS x, {ty12} AS y
          FROM ({_PAGES}) WHERE lon IS NOT NULL AND lat IS NOT NULL
        )
        SELECT COUNT(*) AS n_adjacent_pairs
        FROM tiles a JOIN tiles b
          ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
         AND (a.x != b.x OR a.y != b.y)
    """

    # quadkey: per-level digit concat; morton: bit-spread interleave — the
    # same unrolled formulas as functions.tiles, as SQL text
    qk_digits = " || ".join(
        f"CAST(((tx >> {lvl - 1}) & 1) + 2 * ((ty >> {lvl - 1}) & 1) AS VARCHAR)"
        for lvl in range(12, 0, -1)
    )

    def spread_sql(v):
        masks = [
            (16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        e = f"({v} & 4294967295)"
        for shift, mask in masks:
            e = f"(({e} | ({e} << {shift})) & {mask})"
        return e

    from robosat_spark.functions.tiles import hex_cell_sql

    # consolidated gate: slippy pack + quadkey + Morton + H3-style hex cell
    sql["cell_encode"] = f"""
        SELECT url, ((CAST(12 AS BIGINT) << 58) | (tx << 29) | ty) AS tile_id,
               {qk_digits} AS qk,
               ({spread_sql("tx")} | ({spread_sql("ty")} << 1)) AS morton,
               {hex_cell_sql(10_000.0)} AS hex_id
        FROM (SELECT url, lon, lat, {tx12} AS tx, {ty12} AS ty
              FROM ({_PAGES}) WHERE lon IS NOT NULL AND lat IS NOT NULL)
    """

    sql["tile_pyramid_rollup"] = f"""
        WITH base AS (
          SELECT 12 AS z, tx AS x, ty AS y, COUNT(*) AS n
          FROM (SELECT {tx12} AS tx, {ty12} AS ty
                FROM ({_PAGES}) WHERE lon IS NOT NULL AND lat IS NOT NULL)
          GROUP BY 2, 3
        )
        SELECT z, x, y, n FROM base
        UNION ALL SELECT 11, x >> 1, y >> 1, CAST(SUM(n) AS BIGINT) FROM base GROUP BY 2, 3
        UNION ALL SELECT 10, x >> 2, y >> 2, CAST(SUM(n) AS BIGINT) FROM base GROUP BY 2, 3
        UNION ALL SELECT 9, x >> 3, y >> 3, CAST(SUM(n) AS BIGINT) FROM base GROUP BY 2, 3
        UNION ALL SELECT 8, x >> 4, y >> 4, CAST(SUM(n) AS BIGINT) FROM base GROUP BY 2, 3
    """

    rect_cases = " ".join(
        f"WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} THEN {fid}"
        for fid, x0, y0, x1, y1 in ORACLE_RECTS
    )
    _pip_base = f"""
        SELECT feature_id, COUNT(*) AS n_pages, COUNT(DISTINCT url) AS n_urls
        FROM (SELECT url, CASE {rect_cases} ELSE NULL END AS feature_id
              FROM ({_PAGES}) WHERE lon IS NOT NULL AND lat IS NOT NULL)
        WHERE feature_id IS NOT NULL
        GROUP BY feature_id
    """
    # consolidated gate: one truth x 3 strategy tags — a divergence in any
    # Spark variant breaks the union's hash
    sql["pip_assign"] = f"""
        SELECT s.strategy, o.feature_id, o.n_pages, o.n_urls
        FROM ({_pip_base}) o
        CROSS JOIN (VALUES ('broadcast'), ('salted'), ('jvm')) s(strategy)
    """

    cent_rows = ", ".join(f"({fid}, {cx!r}, {cy!r})" for fid, cx, cy in rect_centroids_vertexmean())
    _knn_base = f"""
        WITH pts AS (
          SELECT url, lon, lat FROM ({_PAGES})
          WHERE lon IS NOT NULL AND lat IS NOT NULL
            AND CAST(substr(url, 23, 8) AS BIGINT) % 37 = 0
        ),
        cents(feature_id, c_lon, c_lat) AS (VALUES {cent_rows}),
        cand AS (
          SELECT url, feature_id,
                 POWER((lon - c_lon) * COS(RADIANS(lat)), 2) + POWER(lat - c_lat, 2) AS d2
          FROM pts CROSS JOIN cents
        )
        SELECT url, feature_id, rank, ROUND(SQRT(d2), 9) AS dist_deg
        FROM (SELECT url, feature_id, d2,
                     ROW_NUMBER() OVER (PARTITION BY url ORDER BY d2 ASC, feature_id ASC) AS rank
              FROM cand)
        WHERE rank <= 3
    """
    sql["knn"] = f"""
        SELECT s.strategy, o.url, o.feature_id, o.rank, o.dist_deg
        FROM ({_knn_base}) o
        CROSS JOIN (VALUES ('brute'), ('cells')) s(strategy)
    """

    sql["dedup_exact"] = """
        SELECT 'groups' AS part,
               md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS key,
               MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dupes
        FROM documents
        GROUP BY 2
        UNION ALL
        -- incr: set-theoretic survivors of the delta-vs-corpus ingest —
        -- the Spark side routes through the Bloom prefilter, so equality
        -- here proves the prefiltered plan loses/invents nothing
        SELECT 'incr' AS part, t.key, t.keep_doc_id, CAST(1 AS BIGINT) AS n_dupes
        FROM (
          SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS key,
                 MIN(doc_id) AS keep_doc_id
          FROM documents WHERE doc_id % 5 = 0
          GROUP BY 1
        ) t
        WHERE t.key NOT IN (
          SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))
          FROM documents WHERE doc_id % 3 <> 0
        )
    """

    _fp_md5 = """
        SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents
    """

    # lang_id: mirror the argmax-with-first-wins tie-break
    def marker_count(lg):
        alts = "|".join(LANG_MARKERS[lg])
        return rf"len(regexp_extract_all(lower(text), '\b({alts})\b'))"

    langs = list(LANG_MARKERS)
    score_cols = ", ".join(f"{marker_count(lg)} AS s_{lg}" for lg in langs)
    best = f"GREATEST({', '.join('s_' + lg for lg in langs)})"
    pick = "CASE "
    for lg in langs:
        pick += f"WHEN s_{lg} = {best} THEN '{lg}' "
    pick += "END"
    # r6 consolidation: per-doc predictions ∪ confusion matrix, one gate
    sql["lang_id"] = f"""
        SELECT 'pred' AS part, CAST(doc_id AS VARCHAR) AS a,
               CASE WHEN {best} > 0 THEN {pick} ELSE 'und' END AS b,
               CAST(1 AS BIGINT) AS n
        FROM (SELECT doc_id, text, {score_cols} FROM documents)
        UNION ALL
        SELECT 'confusion' AS part, a, b, COUNT(*) AS n
        FROM (SELECT lang AS a,
                     CASE WHEN {best} > 0 THEN {pick} ELSE 'und' END AS b
              FROM (SELECT lang, text, {score_cols} FROM documents))
        GROUP BY a, b
    """

    from robosat_spark.operators.sample import (
        hash_sample_sql,
        split_assign_sql,
        stratified_sample_sql,
    )

    _bern_w = hash_sample_sql("doc_id", 0.2, salt="qa")
    _strat_w = stratified_sample_sql("doc_id", "lang", {"en": 0.5},
                                     default=0.1, salt="strat")
    _split_c = split_assign_sql("doc_id", salt="cv")
    sql["sample_split"] = f"""
        SELECT 'bernoulli' AS part, lang AS grp, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents WHERE {_bern_w} GROUP BY lang
        UNION ALL
        SELECT 'stratified' AS part, lang AS grp, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents WHERE {_strat_w} GROUP BY lang
        UNION ALL
        SELECT 'split' AS part, {_split_c} AS grp, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 2
    """
    # part='dsir': importance-resampling selection twin (operators/dsir)
    from robosat_spark.operators.dsir import dsir_sql

    sql["sample_split"] += f"""
        UNION ALL
        SELECT 'dsir' AS part, d.lang AS grp, COUNT(*) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
        FROM ({dsir_sql("documents", "lang = 'en'")}) w
        JOIN documents d USING (doc_id)
        WHERE w.selected GROUP BY d.lang
    """

    sql["knn_label_accuracy"] = f"""
        WITH base AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS vec,
                             label AS item_label FROM embeddings),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec,
                     label AS true_label FROM embeddings WHERE vec_id % 40 = 0),
        top AS (
          SELECT query_id, true_label, item_label FROM (
            SELECT q.query_id, q.true_label, b.item_label,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY ROUND({cosine_sim_sql("b.vec", "q.qvec")}, 9) DESC,
                                               b.item_id ASC) AS rn
            FROM base b CROSS JOIN q WHERE b.item_id != q.query_id)
          WHERE rn <= 5),
        votes AS (SELECT query_id, true_label, item_label, COUNT(*) AS v
                  FROM top GROUP BY 1, 2, 3),
        pred AS (
          SELECT query_id, true_label, item_label FROM (
            SELECT query_id, true_label, item_label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY v DESC, item_label ASC) AS rv
            FROM votes) WHERE rv = 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(CASE WHEN item_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct,
               ROUND(AVG(CASE WHEN item_label = true_label THEN 1.0 ELSE 0.0 END), 6)
                 AS accuracy
        FROM pred
    """

    # the Iceberg table holds exactly the pages_from_events rows, so the
    # storage path must not change the flagship result
    sql["iceberg_pages_pip"] = _pip_base

    tx_a, _, _ = _tile_sql(10, lon="x0")
    tx_b, _, _ = _tile_sql(10, lon="x1")
    _, ty_top, _ = _tile_sql(10, lat="y1")
    _, ty_bot, _ = _tile_sql(10, lat="y0")
    rect_vals = ", ".join(f"({fid}, {x0!r}, {y0!r}, {x1!r}, {y1!r})" for fid, x0, y0, x1, y1 in ORACLE_RECTS)
    sql["cover"] = f"""
        WITH rects(feature_id, x0, y0, x1, y1) AS (VALUES {rect_vals}),
        b AS (SELECT feature_id, {tx_a} AS txa, {tx_b} AS txb,
                     {ty_top} AS tya, {ty_bot} AS tyb FROM rects)
        SELECT feature_id, x, unnest(generate_series(tya, tyb)) AS y
        FROM (SELECT feature_id, unnest(generate_series(txa, txb)) AS x, tya, tyb FROM b)
    """

    shg = shingles_sql(3)
    jac = "len(list_intersect(a.sh, b.sh))::DOUBLE / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    sql["dedup_minhash_lsh"] = f"""
        WITH sh AS (SELECT doc_id, {shg} AS sh FROM documents)
        SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
        FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE j >= 0.3
    """

    # dedup_jaccard_prefix: same exact-all-pairs frame at the prefix-join
    # threshold — the Spark side is exact by construction, so the oracle
    # needs no banding/gap caveat
    sql["dedup_jaccard_prefix"] = f"""
        WITH sh AS (SELECT doc_id, {shg} AS sh FROM documents)
        SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
        FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE j >= 0.6
    """

    sql["dedup_simhash"] = f"""
        SELECT doc_id, {simhash_sql(32)} AS simhash FROM documents
    """

    # explicit whitespace class, NOT '\s': Java \s includes \x0B, RE2's
    # excludes it — the class keeps Spark and DuckDB token sets identical
    wsql = r"regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')"

    from robosat_spark.operators.relevance import bm25_sql

    _bm25 = bm25_sql("documents", _BM25_TERMS)
    sql["top_tokens"] = rf"""
        SELECT 'count' AS part, token, CAST(n AS DOUBLE) AS n, rank FROM (
          SELECT token, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
          FROM (SELECT token, COUNT(*) AS n
                FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f\x0B]+')) AS token
                      FROM documents)
                WHERE token != '' GROUP BY token))
        WHERE rank <= 20
        UNION ALL
        SELECT 'bm25' AS part, CAST(doc_id AS VARCHAR) AS token, score AS n, rank
        FROM (SELECT doc_id, score,
                     ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM ({_bm25}))
        WHERE rank <= 10
        UNION ALL
        -- bm25i: the Spark side answers from the bucketed Iceberg posting
        -- index; the twin is the SAME direct ranking — the gate therefore
        -- pins storage-path == scan-path == DuckDB
        SELECT 'bm25i' AS part, CAST(doc_id AS VARCHAR) AS token, score AS n, rank
        FROM (SELECT doc_id, score,
                     ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM ({_bm25}))
        WHERE rank <= 10
    """
    # part='bpe': the unrolled 8-round merge-training twin (operators/bpe);
    # part='bpe_tok': corpus token totals under the trained vocab
    from robosat_spark.operators.bpe import bpe_sql, bpe_tokens_sql

    sql["top_tokens"] += f"""
        UNION ALL
        SELECT 'bpe' AS part, lhs || ' ' || rhs AS token,
               CAST(cnt AS DOUBLE) AS n, step AS rank
        FROM ({bpe_sql("documents", 8)})
        UNION ALL
        SELECT 'bpe_tok' AS part, 'n_words' AS token,
               CAST(n_words AS DOUBLE) AS n, 1 AS rank
        FROM ({bpe_tokens_sql("documents", 8)})
        UNION ALL
        SELECT 'bpe_tok' AS part, 'n_tokens' AS token,
               CAST(n_tokens AS DOUBLE) AS n, 2 AS rank
        FROM ({bpe_tokens_sql("documents", 8)})
    """

    sql["dedup_clusters"] = f"""
        WITH RECURSIVE sh AS (SELECT doc_id, {shg} AS sh FROM documents),
        pairs AS (
          SELECT a.doc_id AS s, b.doc_id AS d
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE {jac} >= 0.3
        ),
        edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
        )
        SELECT node AS doc_id, MIN(lbl) AS cluster FROM walk GROUP BY node
    """

    from robosat_spark.functions.roads import HIGHWAY_ATTRIBUTES

    hw_case = lambda idx: "CASE " + " ".join(  # noqa: E731
        f"WHEN highway = '{name}' THEN {attrs[idx]!r}" for name, attrs in HIGHWAY_ATTRIBUTES.items()
    ) + " END"
    classes_arr = ", ".join(f"'{c}'" for c in _WAY_CLASSES)
    road_names = ", ".join(f"'{n}'" for n in HIGHWAY_ATTRIBUTES)
    sql["road_widths"] = f"""
        WITH ways AS (
          SELECT event_id,
                 ([{classes_arr}])[(json_extract_string(props, '$.k')::INT % 16) + 1] AS highway,
                 CASE WHEN event_id % 3 = 0 THEN
                      CASE WHEN event_id % 6 = 0 THEN 'yes' ELSE 'no' END END AS oneway,
                 CASE WHEN json_extract_string(props, '$.k')::INT % 5 = 0 THEN
                      CASE WHEN json_extract_string(props, '$.k')::INT % 25 = 0 THEN 'x'
                           ELSE CAST(json_extract_string(props, '$.k')::INT % 9 - 1 AS VARCHAR) END
                 END AS lanes_tag,
                 CASE WHEN json_extract_string(props, '$.k')::INT % 7 = 0 THEN
                      CASE WHEN json_extract_string(props, '$.k')::INT % 21 = 0 THEN 'w m'
                           ELSE printf('%.1f', 0.5 * (json_extract_string(props, '$.k')::INT % 30)) END
                 END AS width_tag
          FROM events
        ),
        d AS (
          SELECT event_id, highway, oneway, lanes_tag, width_tag,
                 {hw_case(0)} AS base_lanes, {hw_case(1)} AS lane_width,
                 {hw_case(2)} AS lsh, {hw_case(3)} AS rsh
          FROM ways WHERE highway IN ({road_names})
        ),
        l AS (
          SELECT *,
                 CASE WHEN lanes_tag IS NOT NULL AND TRY_CAST(lanes_tag AS INT) IS NOT NULL
                      THEN GREATEST(TRY_CAST(lanes_tag AS INT)::DOUBLE, 1.0)
                      WHEN oneway IS NULL OR oneway = 'no' THEN base_lanes * 2
                      ELSE base_lanes END AS lanes_eff
          FROM d
        )
        SELECT event_id, highway,
               ROUND(CASE WHEN width_tag IS NOT NULL AND TRY_CAST(width_tag AS DOUBLE) IS NOT NULL
                          THEN GREATEST(TRY_CAST(width_tag AS DOUBLE), 1.0)
                          ELSE lsh + lane_width * lanes_eff + rsh END, 6) AS width_m
        FROM l
    """

    # dedupe_iou: the fixture pairs are axis-aligned lon/lat rects sharing a
    # latitude band, so IoU is EXACT rect-overlap arithmetic — and because
    # the two shapes of a pair span the same latitudes, the degree-space
    # ratio equals the equal-area (Mollweide) ratio the engine computes
    # (the sin-lat factor cancels). Rect corners are inlined from the SAME
    # fixture builder the Spark query reads.
    from robosat_spark.sources.fixtures import build_feature_rows

    _iou_pairs: dict[int, dict[str, tuple]] = {}
    for _fid, _k, _g, _r, _bbox, _props in build_feature_rows():
        _src = _props.get("src", "")
        if _src.startswith("ioupair-"):
            _, _idx, _ab = _src.split("-")
            _iou_pairs.setdefault(int(_idx), {})[_ab] = (_fid, _bbox)
    iou_vals = ", ".join(
        f"({a_fid}, {a[0]!r}, {a[1]!r}, {a[2]!r}, {a[3]!r}, "
        f"{b[0]!r}, {b[1]!r}, {b[2]!r}, {b[3]!r})"
        for _idx, d in sorted(_iou_pairs.items())
        for (a_fid, a), (_b_fid, b) in [(d["a"], d["b"])]
    )
    sql["dedupe_iou"] = f"""
        WITH p(pred_id, ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) AS (VALUES {iou_vals}),
        c AS (
          SELECT pred_id,
                 GREATEST(0.0, LEAST(ax1, bx1) - GREATEST(ax0, bx0))
                   * GREATEST(0.0, LEAST(ay1, by1) - GREATEST(ay0, by0)) AS inter,
                 (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) AS sums
          FROM p)
        SELECT CAST(pred_id AS BIGINT) AS pred_id,
               ROUND(inter / (sums - inter), 2) AS iou,
               inter / (sums - inter) < 0.5 AS keep
        FROM c
    """

    _mc_fid, _ = _merge_cluster_expected_area()
    sql["feature_merge"] = f"""
        SELECT CAST({_mc_fid} AS BIGINT) AS component,
               CAST(3 AS INT) AS n_members,
               TRUE AS area_ok
    """

    # class_weights / seg_metrics: histogram + confusion pinned to the
    # ANALYTIC pixel counts of the axis-aligned fixture rect (pixel-center
    # membership is closed-form; the noise split replays the seeded
    # scaffold) — p/weight and mIoU/fgIoU/MCC recomputed in SQL with the
    # same double-precision expression structure as the Spark plans.
    _n1, (_tn, _fn, _fp, _tp) = _seg_fixture_expected()
    _total = 16 * 128 * 128
    _n0 = _total - _n1
    sql["class_weights"] = f"""
        SELECT class, n,
               ROUND(n / {float(_total)!r}, 9) AS p,
               ROUND(1.0 / LN(1.02 + n / {float(_total)!r}), 6) AS weight
        FROM (VALUES (CAST(0 AS INT), CAST({_n0} AS BIGINT)),
                     (CAST(1 AS INT), CAST({_n1} AS BIGINT))) AS t(class, n)
    """
    # CAST(... AS DOUBLE): a bare 259462.0 literal is DECIMAL in DuckDB and
    # the MCC product overflows DECIMAL(18) — the Spark side is double math
    _tn_d, _fn_d, _fp_d, _tp_d = (
        f"CAST({v} AS DOUBLE)" for v in (_tn, _fn, _fp, _tp)
    )
    _bg = f"({_tn_d} / ({_tn_d} + {_fn_d} + {_fp_d}))"
    _fg = f"({_tp_d} / ({_tp_d} + {_fn_d} + {_fp_d}))"
    _mcc = (
        f"(({_tp_d} * {_tn_d} - {_fp_d} * {_fn_d}) / "
        f"SQRT(({_tp_d} + {_fp_d}) * ({_tp_d} + {_fn_d}) * "
        f"({_tn_d} + {_fp_d}) * ({_tn_d} + {_fn_d})))"
    )
    sql["seg_metrics"] = f"""
        SELECT CAST({_tn} AS BIGINT) AS tn, CAST({_fn} AS BIGINT) AS fn,
               CAST({_fp} AS BIGINT) AS fp, CAST({_tp} AS BIGINT) AS tp,
               ROUND(({_bg} + {_fg}) / 2.0, 6) AS miou,
               ROUND({_fg}, 6) AS fg_iou,
               ROUND({_mcc}, 6) AS mcc
    """

    # iceberg_scan / iceberg_time_travel: the Iceberg table is built FROM
    # documents (snap 1 = ids <= (min+max)//2, snap 2 = the rest), so the
    # oracle is the plain parquet truth — current scan must equal the
    # union, snapshot 1 must equal the pre-append half
    # consolidated: one truth x 2 planner tags (driver / executors), plus
    # the bucket[8] parts — point lookups through the bucket-pruned table
    # (storage must be invisible) and the spec murmur3 bucket of every
    # doc_id replayed as identical 32-bit arithmetic (functions/bucket
    # generates this SQL from the same algorithm body as the Spark plan)
    from robosat_spark.functions.bucket import iceberg_bucket_long_sql_query

    _bktq = iceberg_bucket_long_sql_query(
        "SELECT doc_id, n_chars FROM documents", "doc_id", 8, out="b"
    )
    _lookups = "\n UNION ALL ".join(
        f"""
        SELECT 'lookup{k}' AS planner, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents WHERE doc_id = {k} GROUP BY source
        """
        for k in _BUCKET_LOOKUP_IDS
    )
    sql["iceberg_scan"] = f"""
        SELECT p.planner, o.source, o.n_docs, o.total_chars
        FROM (SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars
              FROM documents WHERE lang = 'en' GROUP BY source) o
        CROSS JOIN (VALUES ('driver'), ('executors')) p(planner)
        UNION ALL {_lookups}
        UNION ALL
        SELECT 'bucketvals' AS planner, CAST(b AS VARCHAR) AS source,
               COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM ({_bktq}) GROUP BY b
        UNION ALL
        SELECT 'bucketjoin' AS planner, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars + doc_id % 97) AS BIGINT) AS total_chars
        FROM documents WHERE doc_id % 3 = 0 GROUP BY source
    """
    sql["iceberg_time_travel"] = """
        SELECT 'snapshot1' AS mode, lang, COUNT(*) AS n_docs, MAX(doc_id) AS edge_doc_id
        FROM documents
        WHERE doc_id <= (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 FROM documents)
        GROUP BY lang
        UNION ALL
        SELECT 'appended' AS mode, lang, COUNT(*) AS n_docs, MIN(doc_id) AS edge_doc_id
        FROM documents
        WHERE doc_id > (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 FROM documents)
        GROUP BY lang
    """
    # v2 row-level deletes, both families: position-delete scan ==
    # documents minus the tombstoned rows; post-upsert scan == documents
    # with the doc_id % 10 == 0 rows superseded by their n_chars+1000000
    # versions (equality-delete-by-key + append)
    sql["iceberg_deletes"] = """
        SELECT 'position' AS part, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MAX(doc_id) AS max_doc_id
        FROM documents WHERE doc_id % 7 != 0 GROUP BY lang
        UNION ALL
        SELECT 'upsert' AS part, lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000000
                             ELSE n_chars END) AS BIGINT) AS total_chars,
               MAX(doc_id) AS max_doc_id
        FROM documents GROUP BY lang
    """

    from robosat_spark.operators.sketch import hll_sql

    # single-pass ∪ storage-roundtrip merge: merged registers equal the
    # single-pass registers BY CONSTRUCTION (slices partition the table,
    # MAX is associative), so the twin emits one register table under
    # both tags — the gate pins the Iceberg write/scan/merge roundtrip
    # to the straight-through plan
    _hll_one = hll_sql(f"({_PAGES})", "url", p=6)
    sql["hll_distinct"] = f"""
        WITH one AS ({_hll_one})
        SELECT 'single' AS part, * FROM one
        UNION ALL
        SELECT 'merged' AS part, * FROM one
    """

    # contamination: distinct-shingle intersection with the pseudo-eval
    # subset's shingle list (word_shingles is distinct by construction on
    # both sides, so semi-join count == list_intersect length)
    _shg3 = shingles_sql(3)
    sql["contamination"] = f"""
        WITH bench AS (
          SELECT list(DISTINCT tok) AS toks FROM (
            SELECT unnest({_shg3}) AS tok FROM documents WHERE doc_id % 17 = 0)
        ),
        d AS (SELECT doc_id, {_shg3} AS sh FROM documents)
        SELECT doc_id, len(sh) AS n_shingles,
               len(list_intersect(sh, toks)) AS n_hit,
               ROUND(CAST(len(list_intersect(sh, toks)) AS DOUBLE)
                     / GREATEST(len(sh), 1), 6) AS overlap
        FROM d CROSS JOIN bench
    """

    # mask_vectorize / halo_stitch: per-tile polygon counts and halo
    # nonzero counts pinned to the ANALYTIC constants of the axis-aligned
    # fixture rect (see _mask_fixture_expected / _halo_fixture_expected —
    # 1-D pixel-center membership outer products, never the raster kernel)
    _mask_vals = ", ".join(
        f"({x}, {y}, {n}, TRUE)" for x, y, n, _a in _mask_fixture_expected()
    )
    sql["mask_vectorize"] = f"""
        SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
               CAST(n AS INT) AS n_polygons, area_ok
        FROM (VALUES {_mask_vals}) AS t(x, y, n, area_ok)
    """
    _halo_vals = ", ".join(f"({x}, {y}, {nz})" for x, y, nz in _halo_fixture_expected())
    sql["halo_stitch"] = f"""
        SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
               CAST(nz AS BIGINT) AS nonzero
        FROM (VALUES {_halo_vals}) AS t(x, y, nz)
    """

    # rolling fingerprint: the kernel is a min over 64-codepoint-window
    # polynomial hashes mod 2^61-1 base 257 — brute-force replay per window
    # with list lambdas (HUGEINT accumulator: 61-bit * 257 overflows BIGINT)
    _fp_roll = r"""
        WITH cps AS (
          SELECT doc_id,
                 list_transform(regexp_extract_all(text, '.', 0, 's'), c -> ord(c)) AS cp
          FROM documents
        )
        SELECT doc_id,
               CAST(CASE
                 WHEN len(cp) = 0 THEN 0
                 WHEN len(cp) <= 64 THEN
                   list_reduce(
                     list_prepend(CAST(0 AS HUGEINT),
                                  list_transform(cp, x -> CAST(x AS HUGEINT))),
                     (a, c) -> (a * 257 + c) % 2305843009213693951)
                 ELSE
                   list_min(list_transform(generate_series(1, len(cp) - 63),
                     i -> list_reduce(
                            list_prepend(CAST(0 AS HUGEINT),
                                         list_transform(list_slice(cp, i, i + 63),
                                                        x -> CAST(x AS HUGEINT))),
                            (a, c) -> (a * 257 + c) % 2305843009213693951)))
               END AS BIGINT) AS fp
        FROM cps
    """
    # shared ExactSubstr span CTE chain (text_metrics + fingerprint twins):
    # word arrays -> 5-gram positions -> corpus-duplicated grams -> per-doc
    # gaps-and-islands merged [s, e] token ranges (0-based, inclusive)
    _spanctes = """
        stoks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS w
          FROM documents
        ),
        g5 AS (
          SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS gram
          FROM stoks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
          WHERE len(w) >= 5
        ),
        dup5 AS (SELECT gram FROM g5 GROUP BY gram HAVING count(*) >= 2),
        h5 AS (SELECT doc_id, pos FROM g5 JOIN dup5 USING (gram)),
        flg AS (
          SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5
                      THEN 1 ELSE 0 END AS f
          FROM h5 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sp AS (SELECT doc_id, pos,
                      sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
               FROM flg),
        spagg AS (SELECT doc_id, sid, min(pos) AS s, max(pos) + 4 AS e
                  FROM sp GROUP BY doc_id, sid)"""
    # consolidated gate: md5 exact-dup key + winnowing rolling hash +
    # chunking summary + sequence-packing placement + ExactSubstr
    # duplicate-span cut summary per doc (the chunk
    # twin replays every window's boundaries and text, the pack twin the
    # global prefix sum; both fold through idx-prefixed 48-bit-md5 XORs)
    from robosat_spark.operators.chunking import chunks_sql, pack_sql

    _chunks = chunks_sql("documents")
    _pack = pack_sql(_chunks)
    sql["fingerprint"] = f"""
        WITH {_spanctes},
        cov AS (SELECT doc_id, UNNEST(generate_series(s, e)) AS pos FROM spagg),
        tk AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
               FROM stoks, UNNEST(generate_series(1, len(w))) AS t(i)),
        keptrows AS (SELECT tk.doc_id, tk.pos, tk.tok
                     FROM tk ANTI JOIN cov USING (doc_id, pos)),
        kept AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                        count(*) AS n_kept
                 FROM keptrows GROUP BY doc_id),
        cut AS (SELECT s.doc_id,
                       ('0x' || substr(md5(COALESCE(k.clean_text, '')), 1, 12))::BIGINT
                           AS fp_nodup,
                       len(s.w) - COALESCE(k.n_kept, 0) AS n_cut
                FROM stoks s LEFT JOIN kept k USING (doc_id)),
        ln AS (SELECT doc_id, i - 1 AS pos, l[i] AS line, trim(l[i]) AS key
               FROM (SELECT doc_id, regexp_split_to_array(text, '\n') AS l
                     FROM documents),
                    UNNEST(generate_series(1, len(l))) AS t(i)),
        dupl AS (SELECT key FROM ln WHERE key <> ''
                 GROUP BY key HAVING count(*) >= 2),
        keptl AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS ctext,
                         count(*) AS n_kept
                  FROM (SELECT * FROM ln ANTI JOIN dupl USING (key))
                  GROUP BY doc_id),
        lcut AS (SELECT d.doc_id,
                        ('0x' || substr(md5(COALESCE(k.ctext, '')), 1, 12))::BIGINT
                            AS fp_nolines,
                        len(regexp_split_to_array(d.text, '\n'))
                            - COALESCE(k.n_kept, 0) AS n_lines_cut
                 FROM documents d LEFT JOIN keptl k USING (doc_id))
        SELECT a.doc_id, a.fp, b.fp AS fp_roll, c.n_chunks, c.fp_chunks,
               p.fp_pack, p.last_seq, cut.fp_nodup, cut.n_cut,
               lcut.fp_nolines, lcut.n_lines_cut
        FROM ({_fp_md5}) a JOIN ({_fp_roll}) b USING (doc_id)
        JOIN (
          SELECT doc_id, MAX(n_chunks) AS n_chunks,
                 bit_xor(('0x' || substr(md5(CAST(chunk_idx AS VARCHAR) || ':' || chunk_text), 1, 12))::BIGINT)
                     AS fp_chunks
          FROM ({_chunks}) GROUP BY doc_id
        ) c USING (doc_id)
        JOIN (
          SELECT doc_id,
                 bit_xor(('0x' || substr(md5(
                     CAST(chunk_idx AS VARCHAR) || ':' ||
                     CAST(tok_offset AS VARCHAR) || ':' ||
                     CAST(seq_first AS VARCHAR) || ':' ||
                     CAST(seq_last AS VARCHAR)), 1, 12))::BIGINT) AS fp_pack,
                 MAX(seq_last) AS last_seq
          FROM ({_pack}) GROUP BY doc_id
        ) p USING (doc_id)
        JOIN cut USING (doc_id)
        JOIN lcut USING (doc_id)
    """

    # IVF family: the CTE chain replays operators.ann.kmeans_centroids +
    # the final assignment with the IDENTICAL fold order (cosine folds and
    # member-mean folds verified bit-exact vs the Spark plans). Since r4
    # the quantizer trains on the deterministic item_id % 4 == 0 SAMPLE
    # (structural bound on the ordered member fold) and every ranking sim
    # is ROUND(..., 9) on both engines before ROW_NUMBER.
    def _ivf_ctes(
        n_centroids: int = 16, iters: int = 2, dim: int = 64, train_mod: int = 4
    ) -> str:
        cos_bc = f"ROUND({cosine_sim_sql('b.v', 'c.cvec')}, 9)"
        ctes = [
            "base AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
            f"train AS (SELECT item_id, v FROM base WHERE item_id % {train_mod} = 0)",
            f"cents_0 AS (SELECT item_id AS centroid_id, v AS cvec FROM train "
            f"ORDER BY item_id LIMIT {n_centroids})",
        ]
        for t in range(1, iters + 1):
            ctes.append(
                f"asg_{t} AS (SELECT item_id, v, centroid_id FROM ("
                f"SELECT b.item_id, b.v, c.centroid_id, "
                f"ROW_NUMBER() OVER (PARTITION BY b.item_id ORDER BY {cos_bc} DESC, "
                f"c.centroid_id ASC) AS rn FROM train b CROSS JOIN cents_{t - 1} c) WHERE rn = 1)"
            )
            ctes.append(
                f"upd_{t} AS (SELECT centroid_id, list(v ORDER BY item_id) AS vs, "
                f"COUNT(*) AS c FROM asg_{t} GROUP BY centroid_id)"
            )
            ctes.append(
                f"cents_{t} AS (SELECT p.centroid_id, COALESCE("
                f"list_transform(list_reduce(u.vs, (a, x) -> "
                f"list_transform(generate_series(1, {dim}), i -> a[i] + x[i])), "
                f"x -> x / u.c), p.cvec) AS cvec "
                f"FROM cents_{t - 1} p LEFT JOIN upd_{t} u USING (centroid_id))"
            )
        ctes.append(f"cents AS (SELECT centroid_id, cvec FROM cents_{iters})")
        ctes.append(
            f"assigned AS (SELECT item_id, v, centroid_id FROM ("
            f"SELECT b.item_id, b.v, c.centroid_id, "
            f"ROW_NUMBER() OVER (PARTITION BY b.item_id ORDER BY {cos_bc} DESC, "
            f"c.centroid_id ASC) AS rn FROM base b CROSS JOIN cents c) WHERE rn = 1)"
        )
        return ",\n        ".join(ctes)

    _cos_qc = f"ROUND({cosine_sim_sql('q.qvec', 'c.cvec')}, 9)"
    _cos_aq = f"ROUND({cosine_sim_sql('a.v', 'p.qvec')}, 9)"
    _cos_bq = f"ROUND({cosine_sim_sql('b.v', 'q.qvec')}, 9)"
    _ivf_ann_sql = f"""
        WITH {_ivf_ctes()},
        q AS (SELECT item_id AS query_id, v AS qvec FROM base WHERE item_id < 3),
        probes AS (
          SELECT query_id, qvec, centroid_id FROM (
            SELECT q.query_id, q.qvec, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {_cos_qc} DESC,
                                               c.centroid_id ASC) AS rn
            FROM q CROSS JOIN cents c) WHERE rn <= 4),
        cand AS (
          SELECT p.query_id, a.item_id, {_cos_aq} AS sim
          FROM probes p JOIN assigned a USING (centroid_id)
          WHERE a.item_id != p.query_id)
        SELECT query_id, item_id, rank, ROUND(sim, 6) AS sim
        FROM (SELECT query_id, item_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, item_id ASC) AS rank
              FROM cand)
        WHERE rank <= 5
    """

    sql["knn_label_accuracy_ivf"] = f"""
        WITH {_ivf_ctes()},
        lbl AS (SELECT vec_id AS item_id, label AS item_label FROM embeddings),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec,
                     label AS true_label FROM embeddings WHERE vec_id % 40 = 0),
        probes AS (
          SELECT query_id, qvec, centroid_id FROM (
            SELECT q.query_id, q.qvec, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {_cos_qc} DESC,
                                               c.centroid_id ASC) AS rn
            FROM q CROSS JOIN cents c) WHERE rn <= 4),
        cand AS (
          SELECT p.query_id, a.item_id, {_cos_aq} AS sim
          FROM probes p JOIN assigned a USING (centroid_id)
          WHERE a.item_id != p.query_id),
        ivf_top AS (
          SELECT query_id, item_id FROM (
            SELECT query_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, item_id ASC) AS rn
            FROM cand) WHERE rn <= 5),
        bf_top AS (
          SELECT query_id, item_id FROM (
            SELECT q.query_id, b.item_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {_cos_bq} DESC, b.item_id ASC) AS rn
            FROM base b CROSS JOIN q WHERE b.item_id != q.query_id) WHERE rn <= 5),
        votes AS (
          SELECT t.query_id, q.true_label, l.item_label, COUNT(*) AS v
          FROM ivf_top t JOIN lbl l USING (item_id) JOIN q USING (query_id)
          GROUP BY 1, 2, 3),
        pred AS (
          SELECT query_id, true_label, item_label FROM (
            SELECT query_id, true_label, item_label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY v DESC, item_label ASC) AS rv
            FROM votes) WHERE rv = 1),
        matched AS (
          SELECT i.query_id, i.item_id FROM ivf_top i
          JOIN bf_top f ON i.query_id = f.query_id AND i.item_id = f.item_id),
        overlap AS (
          SELECT q.query_id, COUNT(m.item_id) AS n_ov
          FROM q LEFT JOIN matched m ON q.query_id = m.query_id GROUP BY 1),
        acc AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                 CAST(SUM(CASE WHEN item_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_correct,
                 ROUND(AVG(CASE WHEN item_label = true_label THEN 1.0 ELSE 0.0 END), 6)
                   AS accuracy
          FROM pred),
        rec AS (SELECT ROUND(AVG(CAST(n_ov AS DOUBLE) / 5.0), 6) AS recall FROM overlap)
        SELECT n_queries, n_correct, accuracy, recall FROM acc CROSS JOIN rec
    """

    stops = " + ".join(
        rf"len(regexp_extract_all(lower(text), '\b{w}\b'))" for w in STOPWORDS_EN
    )
    toks = r"CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')) END"
    stop_ratio = f"CASE WHEN ({toks}) > 0 THEN ({stops})::DOUBLE / ({toks}) ELSE 0.0 END"
    punct = (
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) "
        "ELSE 0.0 END"
    )
    alpha = (
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) "
        "ELSE 0.0 END"
    )
    # non-blank trimmed lines / paragraphs for the Gopher duplicate
    # fractions (r6) — list exprs matching functions.text._nonblank
    _nb_lines = (
        "list_filter(list_transform(regexp_split_to_array(text, '\n'), l -> trim(l)), "
        "l -> l <> '')"
    )
    _nb_paras = (
        "list_filter(list_transform(regexp_split_to_array(text, '\n{2,}'), l -> trim(l)), "
        "l -> l <> '')"
    )
    # consolidated gate: token_stats + quality_score + repetition_stats
    # + Gopher dup-line/para + top-2-gram + Lee-et-al. dup-span columns.
    # The two corpus-level signals are CTEs LEFT-joined on doc_id, same
    # plan shape as the Spark gate.
    from robosat_spark.operators.lm import bigram_lm_sql

    sql["text_metrics"] = f"""
        WITH base AS (
        SELECT doc_id,
               {toks} AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]')) AS n_subwords,
               ROUND({punct}, 6) AS punct_ratio,
               ROUND({alpha}, 6) AS alpha_ratio,
               ROUND({stop_ratio}, 6) AS stop_ratio,
               ROUND((LEAST(length(text) / 1000.0, 1.0) + ({alpha})
                      + (1.0 - LEAST(({punct}) * 4.0, 1.0))
                      + LEAST(({stop_ratio}) * 5.0, 1.0)) / 4.0, 6) AS quality,
               GREATEST(len({wsql}) - 2, 1) AS n_shingles,
               len({shg}) AS n_distinct,
               ROUND(1.0 - CAST(len({shg}) AS DOUBLE)
                         / CAST(GREATEST(len({wsql}) - 2, 1) AS DOUBLE), 6) AS rep_ratio,
               ROUND(CASE WHEN ({toks}) > 0
                     THEN CAST(length(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]', '', 'g')) AS DOUBLE)
                          / ({toks}) ELSE 0.0 END, 6) AS mean_word_len,
               ROUND(CASE WHEN length(text) > 0
                     THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                          / length(text) ELSE 0.0 END, 6) AS digit_ratio,
               ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                      + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
                     / GREATEST({toks}, 1), 6) AS symbol_word_ratio,
               ROUND(CAST(len(list_filter(regexp_split_to_array(text, '\n'),
                                          l -> regexp_matches(l, '^[ \\t\\n\\r\\f\\x0B]*[-*•]'))) AS DOUBLE)
                     / GREATEST(len(regexp_split_to_array(text, '\n')), 1), 6)
                 AS bullet_line_ratio,
               ROUND(CAST(len(list_filter(regexp_split_to_array(text, '\n'),
                                          l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t\\n\\r\\f\\x0B]*$'))) AS DOUBLE)
                     / GREATEST(len(regexp_split_to_array(text, '\n')), 1), 6)
                 AS ellipsis_line_ratio,
               ROUND(CASE WHEN len({_nb_lines}) > 0
                     THEN 1.0 - CAST(len(list_distinct({_nb_lines})) AS DOUBLE)
                              / len({_nb_lines}) ELSE 0.0 END, 6) AS dup_line_frac,
               ROUND(CASE WHEN len({_nb_paras}) > 0
                     THEN 1.0 - CAST(len(list_distinct({_nb_paras})) AS DOUBLE)
                              / len({_nb_paras}) ELSE 0.0 END, 6) AS dup_para_frac,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_pii_emails,
               len(regexp_extract_all(text,
                   '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_pii_ips
        FROM documents
        ),
        toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS w,
                 length(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]', '', 'g')) AS nonws
          FROM documents
        ),
        g2 AS (
          SELECT doc_id, nonws,
                 CASE WHEN len(w) < 2 THEN array_to_string(w, ' ')
                      ELSE array_to_string(w[i:i+1], ' ') END AS gram
          FROM toks, UNNEST(generate_series(1, GREATEST(len(w) - 1, 1))) AS t(i)
        ),
        c2 AS (SELECT doc_id, nonws, gram, count(*) AS cnt FROM g2 GROUP BY ALL),
        t2 AS (
          SELECT doc_id,
                 ROUND(CASE WHEN nonws > 0
                       THEN cnt * CAST(length(replace(gram, ' ', '')) AS DOUBLE) / nonws
                       ELSE 0.0 END, 6) AS top2gram_char_frac,
                 row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
          FROM c2
        ),
        {_spanctes},
        spans AS (SELECT doc_id, count(*) AS n_dup_spans,
                         CAST(sum(e - s + 1) AS BIGINT) AS dup_span_tokens
                  FROM spagg GROUP BY doc_id)
        SELECT base.*,
               COALESCE(t2f.top2gram_char_frac, 0.0) AS top2gram_char_frac,
               COALESCE(spans.n_dup_spans, 0) AS n_dup_spans,
               COALESCE(spans.dup_span_tokens, 0) AS dup_span_tokens,
               ROUND(CAST(COALESCE(spans.dup_span_tokens, 0) AS DOUBLE)
                     / GREATEST(base.n_tokens, 1), 6) AS dup_span_frac,
               lm.n_bigrams, lm.lp_micro, lm.ppl
        FROM base
        LEFT JOIN (SELECT doc_id, top2gram_char_frac FROM t2 WHERE rn = 1) t2f
               USING (doc_id)
        LEFT JOIN spans USING (doc_id)
        JOIN ({bigram_lm_sql("documents")}) lm USING (doc_id)
    """

    _css = cosine_sim_sql
    _brute_ann_sql = f"""
        WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT query_id, item_id, rank, ROUND(sim, 6) AS sim
        FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS item_id,
                 ROUND({_css("e.v", "q.v")}, 9) AS sim,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY ROUND({_css("e.v", "q.v")}, 9) DESC, e.vec_id ASC) AS rank
          FROM base e CROSS JOIN (SELECT * FROM base WHERE vec_id < 3) q
          WHERE e.vec_id != q.vec_id
        )
        WHERE rank <= 5
    """
    # r5 consolidation: brute baseline ∪ IVF scale path, one tagged gate
    sql["ann_cosine"] = f"""
        SELECT 'brute' AS part, t.* FROM ({_brute_ann_sql}) t
        UNION ALL
        SELECT 'ivf' AS part, t.* FROM ({_ivf_ann_sql}) t
    """

    from robosat_spark.operators.sketch import cms_sql

    # Count-Min Sketch over lowercased whitespace tokens (new r5): the
    # twin replays every counter (same row-salted md5 cell hash), the
    # exact top-20, and the min-over-rows estimates
    _cms_regs = cms_sql("toks", "token", d=4, w=256)
    sql["cms_tokens"] = f"""
        WITH toks AS (
          SELECT token FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f\\x0B]+')) AS token
            FROM documents)
          WHERE token != ''
        ),
        regs AS ({_cms_regs}),
        top AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token
                ORDER BY n DESC, token ASC LIMIT 20),
        est AS (
          SELECT t.token, MIN(COALESCE(r.cnt, 0)) AS est
          FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row) i
          LEFT JOIN regs r ON r.row = i.row
            AND r.col = (('0x' || substr(md5(CAST(i.row AS VARCHAR) || '|' || t.token), 1, 15))::BIGINT % 256)
          GROUP BY t.token
        ),
        bloom AS (
          SELECT DISTINCT
            (('0x' || substr(md5(CAST(i.row AS VARCHAR) || '|' || token), 1, 15))::BIGINT % 2048) AS bit
          FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row) i
        ),
        bprobes AS (SELECT token FROM top UNION ALL SELECT 'zz-never-a-token'),
        bprobe AS (
          SELECT p.token,
                 CAST(CASE WHEN COUNT(b.bit) = 4 THEN 1 ELSE 0 END AS BIGINT) AS hit
          FROM bprobes p CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row) i
          LEFT JOIN bloom b ON b.bit =
            (('0x' || substr(md5(CAST(i.row AS VARCHAR) || '|' || p.token), 1, 15))::BIGINT % 2048)
          GROUP BY p.token
        )
        SELECT 'register' AS part, printf('%d:%d', row, col) AS key, cnt AS n FROM regs
        UNION ALL
        SELECT 'estimate' AS part, token AS key, est AS n FROM est
        UNION ALL
        SELECT 'exact' AS part, token AS key, n FROM top
        UNION ALL
        SELECT 'bloom_bit' AS part, printf('%d', bit) AS key, CAST(1 AS BIGINT) AS n
        FROM bloom
        UNION ALL
        SELECT 'bloom_probe' AS part, token AS key, hit AS n FROM bprobe
    """

    return sql
