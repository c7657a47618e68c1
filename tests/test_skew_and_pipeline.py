"""Skew-handling evidence (north_rule) + checkpointed pipeline e2e."""

import pyspark.sql.functions as F
import pytest


def test_hot_tile_exists_and_salting_balances(spark):
    """The pages fixture plants ~50% of bbox points in one z18 tile
    (SURVEY.md §7 'deliberately skewed fixture'); the salted repartition
    must spread that tile across many tasks."""
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages

    pts = geotagged_points(pages(spark, 20000), 18)
    top = (
        pts.groupBy("tile_id").count().orderBy(F.col("count").desc()).limit(1).collect()[0]
    )
    total = pts.count()
    # the planted hot window concentrates ~36% of points over 1-2 z18 tiles
    assert top["count"] / total > 0.2

    salt = 16
    salted = pts.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salt)).cast("int")
    ).repartition(salt * 2, F.col("tile_id"), F.col("salt"))
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    # without salting the hot tile would put >25% of rows in ONE partition;
    # with salting the max partition holds a small multiple of the mean
    assert max(counts) < 4 * (sum(counts) / len(counts))
    assert max(counts) / total < 0.15


def test_pages_table_catalog_path(spark):
    from robosat_spark.operators.spatial_join import assign_broadcast
    from robosat_spark.sources.fixtures import features
    from robosat_spark.sources.pages import pages, pages_table

    pages(spark, 2000).createOrReplaceTempView("pages_v")
    pg = pages_table(spark, "pages_v")
    assert pg.columns == ["url", "warc_ts", "html", "text", "lang"]
    out = assign_broadcast(spark, pg, features(spark), zoom=16)
    assert out.count() > 0


def test_checkpointed_mask_pipeline_resume(spark, tmp_path):
    """cover -> rasterize -> synth-probs -> vectorize through the Pipeline
    runner: rerun after losing the last stage reuses the earlier stages."""
    from robosat_spark.operators.cover import cover
    from robosat_spark.operators.features import extract_features
    from robosat_spark.operators.rasterize import (
        probs_to_masks,
        rasterize_masks,
        synthesize_probs,
    )
    from robosat_spark.plans import Pipeline, stage_metrics
    from robosat_spark.sources.oracle_features import oracle_rect_features

    root = str(tmp_path / "job")
    ft = oracle_rect_features(spark).limit(1)

    def run():
        p = Pipeline(spark, root)
        tiles = p.stage(
            "tiles", lambda: cover(ft, zoom=12).select("x", "y").limit(8), upstream=[]
        )
        masks = p.stage(
            "masks",
            lambda: rasterize_masks(spark, tiles, ft, zoom=12, size=128),
            upstream=["tiles"],
        )
        pred = p.stage(
            "pred",
            lambda: probs_to_masks(synthesize_probs(masks, noise=0.01)),
            upstream=["masks"],
        )
        feats = p.stage(
            "features",
            lambda: extract_features(pred, denoise_px=8, grow_px=8).drop("rings"),
            upstream=["pred"],
        )
        return p, feats

    p1, feats1 = run()
    n1 = feats1.count()
    assert n1 > 0
    assert all(p1.ran.values())

    p1.invalidate("features")
    p2, feats2 = run()
    assert p2.ran == {"tiles": False, "masks": False, "pred": False, "features": True}
    assert feats2.count() == n1

    m = stage_metrics(spark, root)
    per_stage = {r["stage"]: r["rows"] for r in m.groupBy("stage").agg(
        F.sum("rows").alias("rows")).select(F.col("stage"), F.col("rows")).collect()}
    assert per_stage["tiles"] == 8 and per_stage["masks"] == 8 and per_stage["pred"] == 8
    assert per_stage["features"] == n1


def test_assign_auto_forces_both_paths_identical(spark):
    """Auto strategy selection (round-1 review item 9): broadcast and
    distributed paths must return identical row sets, and the budget knob
    must actually flip the choice."""
    from robosat_spark.operators.spatial_join import (
        assign_auto,
        choose_assign_strategy,
        estimate_feature_bytes,
    )
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, "/root/testdata/sf0.001")
    ft = oracle_rect_features(spark)

    est = estimate_feature_bytes(ft)
    assert est > 0
    assert choose_assign_strategy(ft, max_broadcast_bytes=est + 1) == "broadcast"
    assert choose_assign_strategy(ft, max_broadcast_bytes=est - 1) == "distributed"

    cols = ["url", "feature_id"]
    bc = assign_auto(spark, pg, ft, zoom=7, max_broadcast_bytes=64 << 20)
    dist = assign_auto(spark, pg, ft, zoom=7, max_broadcast_bytes=1)
    got_bc = sorted(map(tuple, bc.select(*cols).collect()))
    got_dist = sorted(map(tuple, dist.select(*cols).collect()))
    assert got_bc == got_dist and len(got_bc) > 0


def test_flagship_scan_prunes_payload_columns(spark, tmp_path):
    """Plan audit: the flagship prep must prune the parquet scan to
    (url, warc_ts, text) — the html payload and lang columns never leave
    the scan (at 100 TB the html column is ~90% of the bytes)."""
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages

    path = str(tmp_path / "pages")
    pages(spark, 500).write.parquet(path)
    pts = geotagged_points(spark.read.parquet(path), zoom=12)
    plan = pts._jdf.queryExecution().executedPlan().toString()
    scan_line = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "html" not in scan_line and "lang" not in scan_line, scan_line
    assert "url" in scan_line and "text" in scan_line


def test_count_readout_matches_grouped_salted_rows(spark):
    """Both readouts of the one refine core agree: the fused count readout
    equals the salted row readout grouped per (tile, feature) — the plan
    choice is pure physics, never semantics."""
    from robosat_spark.operators.spatial_join import assign_count_by_feature, assign_salted
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, "/root/testdata/sf0.001")
    ft = oracle_rect_features(spark)
    counts = assign_count_by_feature(spark, pg, ft, zoom=7)
    rows = assign_salted(spark, pg, ft, zoom=7)
    grouped = rows.groupBy("tile_id", "feature_id").count()
    a = sorted(map(tuple, counts.select("tile_id", "feature_id", "n_pages").collect()))
    b = sorted(map(tuple, grouped.collect()))
    assert a == b and len(a) > 0
    # same counts, fewer exchanges: the fused count plan's only shuffle is
    # the tiny final groupBy; the salted rows add the full point
    # repartition before the refine, then their own groupBy
    plan_c = counts._jdf.queryExecution().executedPlan().toString()
    plan_s = grouped._jdf.queryExecution().executedPlan().toString()
    assert plan_c.count("Exchange") < plan_s.count("Exchange"), (plan_c, plan_s)


def test_gate_plans_have_no_pathological_joins(spark):
    """Plan guard over representative relational gates: no
    BroadcastNestedLoopJoin and no CartesianProduct may appear (the two
    shapes that silently turn a 100 TB join into a full cross of the
    inputs). The two declared exactness baselines (embedding_neardup's
    all-pairs, knn_label_accuracy's brute candidates) are exempt by
    design and not listed here."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ["market_join", "semi_join", "url_curation", "pricing_summary",
                 "iceberg_deletes", "cms_tokens", "value_quantiles",
                 "top_tokens", "fingerprint", "text_metrics", "sample_split"]:
        plan = qs[name](spark, "/root/testdata/sf0.001")._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
