"""Point-in-polygon page->feature assignment: the flagship spatial join (J2/J3).

Catalyst can't know spatial semantics, so the plan is chosen by name
(SURVEY.md §4). There are two join bodies:

Broadcast filter-refine — ``assign_broadcast``, ``assign_salted``,
``assign_count_by_feature``
    The feature table is collected once into a per-tile index and
    broadcast; a broadcast semi-join on the covered tiles drops every
    point whose cell holds no feature (JVM, before any shuffle or Arrow
    transfer); one ``mapInArrow`` refine runs the exact PIP once per
    candidate feature per batch. The names differ only in placement and
    readout: ``assign_broadcast`` refines on the scan partitions and
    emits rows; ``assign_salted`` first spreads each hot cell over
    ``SALT`` tasks (cell-clustered output; the skew path of
    BASELINE.json north_rule) and emits rows; ``assign_count_by_feature``
    refines on the scan partitions and emits per-(tile, feature) counts.

Cover equi-join — ``assign_jvm``, ``assign_distributed``
    The feature side is exploded to (tile_id, feature_id, rings) and
    joined on tile_id with the codegen ``point_in_rings`` inside the join
    condition: all JVM, no Python workers. ``assign_jvm`` broadcasts the
    cover table (and ``streaming_feature_counts`` runs it on a stream);
    ``assign_distributed`` does not, so the polygon side can be web-scale.

``assign_auto`` picks broadcast or distributed from the feature table's
estimated size. Every name yields the same hits.
"""

from __future__ import annotations


import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tiles import geotag_lat_fast, geotag_lon_fast, pack_tile_id, tile_x, tile_y
from ..kernels.geometry import rings_from_arrow


def geotagged_points(pages: DataFrame, zoom: int) -> DataFrame:
    """pages -> (url, warc_ts, lon, lat, tile_id): the scan-side prep.

    Geotag extraction is pure regex+cast (G27) and tile encode is pure
    arithmetic — both JVM-side; column pruning still reaches the scan,
    while the geotag filter deliberately does NOT push below the
    projection (see the barrier comment below: pushing it re-evaluates
    the extraction per reference)."""
    lon = geotag_lon_fast(F.col("text"))
    lat = geotag_lat_fast(F.col("text"))
    # Evaluation barrier (r7, guide §4.4 applied to built-in exprs): with
    # plain projection fields, Catalyst pushes the isNotNull filter
    # through the projection AND through the scan-parallelism fan
    # exchange (sources/scan.fan_out_unsplittable_scan) back onto the
    # unsplittable single-task scan, where its condition re-inlines the
    # whole text build + geotag parse — the exact single-threaded wall
    # the fan exists to remove, plus a duplicated evaluation above.
    # Filters only push through a Project whose fields are ALL
    # deterministic, so wrapping lon/lat in an always-true
    # non-deterministic WHEN pins every downstream filter above this
    # projection, evaluating attribute references: the parse runs once,
    # on the fanned (parallel) side. The partition-id test is true
    # by construction on every task attempt (retry-safe, and legal in
    # Structured Streaming, unlike monotonically_increasing_id), so the
    # value is identical — verified exceptAll-both-ways empty on an
    # 800k-row 10x points stage and by all 50 oracle gates at two SFs.
    # Measured on the 10x set at 32 cores (noop sink): 8.0 s plain ->
    # 2.0-2.4 s with a filter-side WHEN -> 1.4-2.0 s with this shape.
    nd = F.spark_partition_id() >= 0
    pts = pages.select(
        "url",
        "warc_ts",
        F.when(nd, lon).alias("lon"),
        F.when(nd, lat).alias("lat"),
    ).filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    return pts.withColumn(
        "tile_id", pack_tile_id(zoom, tile_x(F.col("lon"), zoom), tile_y(F.col("lat"), zoom))
    )


def _collect_feature_index(features: DataFrame, zoom: int):
    """Driver-side build of {tile_id: [feature_id]} + {feature_id: rings}.

    The 'R-tree' of the reference (/root/reference/robosat/spatial/core.py:80-100)
    becomes a tile-bucketed index: the cover expansion IS the spatial index,
    and equi-join on tile_id replaces the bbox probe. One Arrow collect of
    the (small) feature table, read through the ring codec, then the cover
    kernel runs IN the driver and the cover cells are packed into tile ids
    in NumPy — no Spark job, no Python-worker spin-up, no per-point or
    per-tile Python objects."""
    from ..kernels.mercator import pack_tile_id as pack_tile_ids
    from ..kernels.raster import cover_rings

    tile_map: dict[int, list[int]] = {}
    rings_map: dict[int, list] = {}
    table = features.select("feature_id", "rings").toArrow()
    fids = table.column("feature_id").to_pylist()
    for fid, rings in zip(fids, rings_from_arrow(table.column("rings"))):
        rings_map[fid] = rings
        xy = cover_rings(rings, zoom)
        for t in pack_tile_ids(xy[:, 0], xy[:, 1], zoom).tolist():
            tile_map.setdefault(t, []).append(fid)
    return tile_map, rings_map


def _precompute_polygons(rings_map):
    """rings_map -> {fid: [per-ring edge tables]} hoisted ONCE per task
    (guide §4.5): open_ring/roll/div and the bbox are loop-invariant
    across every batch and every candidate tile of a feature, and at
    ~50 us of NumPy fixed cost per PIP call they dominated the refine
    on small per-tile row groups. Horizontal edges are dropped outright
    (their straddle term is identically false). First entry = exterior,
    rest = holes — same convention as ``points_in_polygon``."""
    from ..kernels.geometry import open_ring

    pre = {}
    for fid, rings in rings_map.items():
        pres = []
        for ring in rings:
            r = open_ring(np.asarray(ring, dtype=np.float64))
            x1, y1 = r[:, 0], r[:, 1]
            x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
            keep = y1 != y2
            x1k, y1k = x1[keep], y1[keep]
            x2k, y2k = x2[keep], y2[keep]
            inv_dy = (x2k - x1k) / (y2k - y1k)
            pres.append(
                (
                    float(x1.min()), float(x1.max()),
                    float(y1.min()), float(y1.max()),
                    x1k[None, :], y1k[None, :], y2k[None, :], inv_dy[None, :],
                )
            )
        pre[fid] = pres
    return pre


def _pip_pre(px, py, pres):
    """Blocked even-odd PIP against precomputed edge tables — identical
    arithmetic (and therefore identical booleans) to
    ``kernels.geometry.points_in_polygon``, minus the per-call setup."""
    inside = None
    for i, (minx, maxx, miny, maxy, x1, y1, y2, inv_dy) in enumerate(pres):
        out = np.zeros(px.shape[0], dtype=bool)
        cand = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
        idx = np.nonzero(cand)[0]
        if idx.size and x1.size:
            block = 1024
            for s in range(0, idx.size, block):
                sel = idx[s : s + block]
                bx = px[sel][:, None]
                by = py[sel][:, None]
                straddle = (y1 > by) != (y2 > by)
                xint = x1 + (by - y1) * inv_dy
                crossings = np.sum(straddle & (bx < xint), axis=1)
                out[sel] = (crossings % 2) == 1
        inside = out if i == 0 else (inside & ~out)
    return inside


def _refine_hits(lon, lat, tids, tile_map, pre_map):
    """The one PIP loop: yields ``(feature_id, hit_rows)`` per candidate
    feature of a batch. Rows are bucketed by candidate FEATURE (via their
    tile) so there is one PIP call per feature per batch instead of one
    per (tile, feature) — fewer, larger vectorized calls (a feature's
    cover spans several tiles, and per-call fixed cost dominated small
    per-tile groups)."""
    order = np.argsort(tids, kind="stable")
    sorted_tids = tids[order]
    uniq = np.unique(sorted_tids)
    starts = np.searchsorted(sorted_tids, uniq, side="left")
    ends = np.searchsorted(sorted_tids, uniq, side="right")
    per_fid = {}
    for t, s, e in zip(uniq.tolist(), starts.tolist(), ends.tolist()):
        for fid in tile_map.get(t, ()):
            per_fid.setdefault(fid, []).append(order[s:e])
    for fid, row_lists in per_fid.items():
        rows = row_lists[0] if len(row_lists) == 1 else np.concatenate(row_lists)
        hit = rows[_pip_pre(lon[rows], lat[rows], pre_map[fid])]
        if hit.size:
            yield fid, hit


_ROW_COLS = ["url", "warc_ts", "lon", "lat", "tile_id"]
_ROWS_SCHEMA = (
    "url STRING, warc_ts TIMESTAMP, lon DOUBLE, lat DOUBLE, tile_id LONG, feature_id LONG"
)
_COUNTS_SCHEMA = "tile_id LONG, feature_id LONG, n LONG"


def _emit_rows(batch, tids, hits):
    """Row readout: the hit rows via ``RecordBatch.take`` (Arrow C++) plus
    ``feature_id`` — the url/warc_ts payload NEVER becomes Python objects.
    mapInArrow binds output columns POSITIONALLY to the declared schema,
    so the order is exactly ``_ROWS_SCHEMA``'s."""
    take = pa.array(np.concatenate([hit for _, hit in hits]))
    fids = np.concatenate([np.full(hit.size, fid, dtype=np.int64) for fid, hit in hits])
    cols = [batch.column(name).take(take) for name in _ROW_COLS]
    return pa.RecordBatch.from_arrays(
        cols + [pa.array(fids, type=pa.int64())], names=_ROW_COLS + ["feature_id"]
    )


def _emit_counts(batch, tids, hits):
    """Count readout with MAP-SIDE COMBINE: one (tile_id, feature_id, n)
    row per hit group instead of one row per hit — output bytes drop from
    O(hits) to O(distinct groups per batch)."""
    t_arr, f_arr, n_arr = [], [], []
    for fid, hit in hits:
        ts, cs = np.unique(tids[hit], return_counts=True)
        t_arr.append(ts)
        f_arr.append(np.full(ts.size, fid, dtype=np.int64))
        n_arr.append(cs)
    cols = [np.concatenate(a).astype(np.int64) for a in (t_arr, f_arr, n_arr)]
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=pa.int64()) for c in cols], names=["tile_id", "feature_id", "n"]
    )


# rows one refine pass gathers from its task's Arrow batches (see
# ``_refine_factory``)
_REFINE_BATCH_ROWS = 65_536


def _coalesce_batches(batches, cap: int = _REFINE_BATCH_ROWS):
    """Regroup a task's record batches into batches of at most ``cap``
    rows, in order. Empty batches are dropped; a single input batch
    larger than ``cap`` passes whole."""
    pending, n = [], 0
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if pending and n + batch.num_rows > cap:
            yield _concat(pending)
            pending, n = [], 0
        pending.append(batch)
        n += batch.num_rows
    if pending:
        yield _concat(pending)


def _concat(batches):
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def _refine_factory(bc_index, emit):
    """Arrow-native PIP refine for ``mapInArrow``: numeric columns are read
    zero-copy into NumPy, the edge tables are built once per task, and
    ``emit`` turns each refine pass's hits into the readout's record batch.

    Whole-task batches: the refine first concatenates its task's incoming
    batches, up to ``_REFINE_BATCH_ROWS`` rows. At the session's
    ``maxRecordsPerBatch`` of 2048 each batch touches hundreds of
    features, so the refine made one small ``_pip_pre`` call per feature
    per 2048 rows, and per-call overhead, not PIP arithmetic, was most of
    its time (on the 143,639 prefiltered flagship points: 1.40 s CPU at
    2048-row batches, 0.24 s at 36k rows, 0.17 s as one batch). The cap
    bounds the memory of one pass; the session conf is left alone.

    Arrow end to end matters at scale: the earlier pandas form turned every
    url into a Python string object and back (15M allocations per 15M rows),
    which saturated memory bandwidth — 32 workers ran no faster than 8."""

    def refine(batches):
        tile_map, rings_map = bc_index.value
        pre_map = _precompute_polygons(rings_map)  # once per task (§4.5)
        for batch in _coalesce_batches(batches):
            lon = batch.column("lon").to_numpy(zero_copy_only=False)
            lat = batch.column("lat").to_numpy(zero_copy_only=False)
            tids = batch.column("tile_id").to_numpy(zero_copy_only=False).astype(np.int64)
            hits = list(_refine_hits(lon, lat, tids, tile_map, pre_map))
            if hits:
                yield emit(batch, tids, hits)

    return refine


def _candidates(spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int):
    """-> (broadcast index, prefiltered points): the filter half of
    filter-refine. The JVM-side broadcast semi-join on the covered-tile
    set kills every point whose cell can't contain a feature BEFORE any
    shuffle or Arrow transfer. At web scale most points are elsewhere
    (the world is sparse), so this is the single biggest data-volume cut
    in the plan, kept inside whole-stage codegen.

    The semi-join's build side is made from a ``pyarrow.Table``, which
    plans a ``LocalTableScan``: the tile ids travel inside the plan and the
    broadcast is built in the JVM. A list of tuples (or a pandas frame
    with Arrow off) plans ``Scan ExistingRDD`` instead, and the broadcast
    is then built by running a job over a pickled Python RDD (measured:
    geotag plus semi-join count 0.684 s that way, 0.391 s this way, 0.312 s
    for geotag alone)."""
    tile_map, rings_map = _collect_feature_index(features, zoom)
    bc = spark.sparkContext.broadcast((tile_map, rings_map))
    cover_tiles = spark.createDataFrame(
        pa.table({"tile_id": pa.array(list(tile_map), type=pa.int64())})
    )
    pts = geotagged_points(pages, zoom).join(F.broadcast(cover_tiles), "tile_id", "left_semi")
    return bc, pts


# hash buckets each hot cell is spread over by ``assign_salted``
SALT = 16


def assign_broadcast(
    spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int
) -> DataFrame:
    """Broadcast filter-refine PIP assignment. No shuffle of pages.

    Plan: scan -> regex/tile-encode (codegen) -> broadcast semi-join
    tile prefilter (JVM) -> mapInArrow exact refine against the broadcast
    index. Candidate rows never hit a shuffle."""
    bc, pts = _candidates(spark, pages, features, zoom)
    return pts.mapInArrow(_refine_factory(bc, _emit_rows), _ROWS_SCHEMA)


def assign_salted(
    spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int
) -> DataFrame:
    """Salted repartition-by-cell + per-partition broadcast index.

    ``repartition(tile_id, salt)`` spreads each hot cell over ``SALT``
    tasks; the refine is identical. Use when candidate density per tile
    is too high for single tasks (hot-tile skew) and the downstream
    consumer benefits from cell-clustered output (e.g. a groupBy(tile)
    follows — the shuffle is then shared, not extra)."""
    bc, pts = _candidates(spark, pages, features, zoom)
    salted = pts.withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(SALT)).cast("int"))
    salted = salted.repartition(F.col("tile_id"), F.col("salt")).drop("salt")
    return salted.mapInArrow(_refine_factory(bc, _emit_rows), _ROWS_SCHEMA)


def assign_count_by_feature(
    spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int
) -> DataFrame:
    """-> (tile_id, feature_id, n_pages): the count readout of the flagship
    join with aggregation pushed THROUGH the spatial refine.

    Plan (no shuffle of points at all): scan -> geotag/encode (codegen) ->
    broadcast semi-join prefilter -> project to the 3 numeric columns the
    count needs (Catalyst cannot prune into a UDF, so the operator does
    it) -> Arrow count-refine FUSED onto the scan partitions with
    map-side combine -> tiny final groupBy. With a broadcast index the
    refine is embarrassingly parallel and scan order already spreads any
    hot cell across every partition — repartitioning by cell would CREATE
    the skew a salt then has to fix, and at cluster scale the avoided
    candidate shuffle is network traffic, not page-cache I/O. Measured
    2->8-core scaling efficiency rose from 0.77 (salted shuffle) to 0.87
    (fused) on the 60M-row north-rule job at equal 8-core wall time.
    Consumers that need cell-clustered partitioning use ``assign_salted``."""
    bc, pts = _candidates(spark, pages, features, zoom)
    partial = pts.select("lon", "lat", "tile_id").mapInArrow(
        _refine_factory(bc, _emit_counts), _COUNTS_SCHEMA
    )
    return partial.groupBy("tile_id", "feature_id").agg(F.sum("n").alias("n_pages"))


def point_in_rings(px, py, rings):
    """Even-odd point-in-polygon as a PURE COLUMN EXPRESSION: fold the
    crossing-number test over every edge of every ring (holes included —
    crossing parity over all rings IS the even-odd rule). Same convention
    as kernels.geometry.points_in_polygon, but evaluated by whole-stage
    codegen — no Python, no Arrow, vectorized by Tungsten."""

    def ring_crossings(acc_r, ring):
        idx = F.sequence(F.lit(0), F.size(ring) - F.lit(2))

        def edge(acc, i):
            p1 = F.element_at(ring, i + F.lit(1))
            p2 = F.element_at(ring, i + F.lit(2))
            xi, yi = p1.getItem(0), p1.getItem(1)
            xj, yj = p2.getItem(0), p2.getItem(1)
            crosses = ((yi > py) != (yj > py)) & (
                px < (xj - xi) * (py - yi) / (yj - yi) + xi
            )
            return acc + F.when(crosses, F.lit(1)).otherwise(F.lit(0))

        return acc_r + F.aggregate(idx, F.lit(0), edge)

    total = F.aggregate(rings, F.lit(0), ring_crossings)
    return total % 2 == 1


def _cover_pip_join(
    pts: DataFrame, features: DataFrame, zoom: int, broadcast: bool
) -> DataFrame:
    """Cover equi-join + codegen crossing-number: ``pts`` (geotagged
    points) joined to the exploded (tile_id, feature_id, rings) cover
    table with ``point_in_rings`` INSIDE the join condition -> the
    ``_ROWS_SCHEMA`` columns. With ``broadcast`` the cover side carries
    an explicit broadcast hint: one BroadcastHashJoin with the exact
    predicate, never a sort-merge of the big point side."""
    from .cover import cover_tile_ids

    rings = features.select("feature_id", "rings")
    cand_feats = cover_tile_ids(features, zoom).join(
        F.broadcast(rings) if broadcast else rings, "feature_id"
    )
    if broadcast:
        cand_feats = cand_feats.hint("broadcast")
    cand = pts.join(
        cand_feats,
        (pts["tile_id"] == cand_feats["tile_id"])
        & point_in_rings(pts["lon"], pts["lat"], cand_feats["rings"]),
    )
    return cand.select(
        "url", "warc_ts", "lon", "lat", pts["tile_id"].alias("tile_id"), "feature_id"
    )


def assign_jvm(
    spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int
) -> DataFrame:
    """All-JVM PIP assignment: broadcast cover equi-join + codegen
    crossing-number — one JVM pipeline end-to-end, no shuffle of pages,
    no Python workers. The fastest path when per-tile candidate counts
    are modest (each candidate costs O(vertices) in codegen);
    ``assign_salted`` remains the skew/shuffle-controlling variant."""
    return _cover_pip_join(geotagged_points(pages, zoom), features, zoom, broadcast=True)


def assign_distributed(
    spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int
) -> DataFrame:
    """Fully distributed cover equi-join PIP: the cover table is
    hash/sort-merge-joined on tile_id — NO broadcast, NO driver collect —
    so the polygon side can itself be web-scale (the one case the
    broadcast-index paths cannot serve). Same refine as ``assign_jvm``."""
    return _cover_pip_join(geotagged_points(pages, zoom), features, zoom, broadcast=False)


def estimate_feature_bytes(features: DataFrame) -> int:
    """One tiny aggregation on the (small-side) feature table: vertex count
    -> rough in-memory index size (16 B/vertex + 96 B/feature overhead for
    dict slots and ndarray headers)."""
    row = features.select(
        F.count("*").alias("n"),
        F.sum(
            F.aggregate("rings", F.lit(0), lambda acc, r: acc + F.size(r))
        ).alias("verts"),
    ).collect()[0]
    n = int(row["n"] or 0)
    verts = int(row["verts"] or 0)
    return verts * 16 + n * 96


def choose_assign_strategy(
    features: DataFrame, max_broadcast_bytes: int = 64 << 20
) -> str:
    """'broadcast' when the collected feature index comfortably fits the
    driver/executor broadcast budget, else 'distributed'. Kept separate
    from ``assign_auto`` so the decision is unit-testable."""
    return (
        "broadcast"
        if estimate_feature_bytes(features) <= max_broadcast_bytes
        else "distributed"
    )


def assign_auto(
    spark: SparkSession,
    pages: DataFrame,
    features: DataFrame,
    zoom: int,
    max_broadcast_bytes: int = 64 << 20,
) -> DataFrame:
    """Auto-select the physical strategy for the flagship join (review
    item: don't make the caller guess): broadcast filter-refine while the
    feature index fits in the broadcast budget, distributed cover equi-join
    beyond it. Both produce identical rows (forced-path equality is
    unit-tested in tests/test_skew_and_pipeline.py)."""
    if choose_assign_strategy(features, max_broadcast_bytes) == "broadcast":
        return assign_broadcast(spark, pages, features, zoom)
    return assign_distributed(spark, pages, features, zoom)


def assign_counts_per_tile(assigned: DataFrame) -> DataFrame:
    """Aggregate: pages per (tile, feature) — the flagship readout."""
    return assigned.groupBy("tile_id", "feature_id").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
    )
