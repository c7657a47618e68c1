"""Spark-level tests: rasterize -> synth-predict -> features -> merge -> dedupe.

Golden expectations ported from the reference pytest suite
(/root/reference/tests/tools/test_rasterize.py) plus invariant checks from
FIXTURES.md §5.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from robosat_spark.kernels import geometry as G
from robosat_spark.operators.dedupe import dedupe
from robosat_spark.operators.features import extract_features, extract_tile_features
from robosat_spark.operators.merge import merge_features
from robosat_spark.operators.rasterize import (
    mask_nonzero_pct,
    probs_to_masks,
    rasterize_masks,
    synthesize_probs,
)
from robosat_spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def parking_features(spark):
    return FX.features(spark).filter(
        F.col("props")["src"].startswith("reference-parking")
    )


def test_rasterize_golden_tiles(spark, parking_features):
    tiles = FX.tiles(spark, "parking")  # includes golden non-zero + zero tiles
    masks = rasterize_masks(spark, tiles, parking_features, zoom=18, size=512)
    rows = {(r["x"], r["y"]): np.frombuffer(r["data"], np.uint8) for r in masks.collect()}
    assert len(rows) == 4
    # /root/reference/tests/tools/test_rasterize.py:20-49
    assert rows[(70762, 104119)].any(), "parking tile must burn non-zero"
    assert not rows[(69623, 104946)].any(), "empty tile must burn all-zero"


def test_features_roundtrip_iou(spark, parking_features):
    """burn -> noisy predict -> soft-vote mask -> featurize: recovered
    polygon matches the tile-clipped truth at IoU > 0.85."""
    from robosat_spark.kernels.mercator import tile_bounds

    tiles = spark.createDataFrame([(70762, 104119, 18)], "x INT, y INT, z INT")
    masks = rasterize_masks(spark, tiles, parking_features, zoom=18, size=512)
    probs = synthesize_probs(masks, noise=0.01)
    pred_masks = probs_to_masks(probs)
    feats = extract_features(pred_masks, denoise_px=10, grow_px=10, simplify_threshold=0.005)
    out = feats.collect()
    assert len(out) >= 1
    recovered = [G.as_ring(r) for r in max(out, key=lambda r: r["area_m2"])["rings"]]
    truth = G.as_ring(parking_features.orderBy("feature_id").first()["rings"][0])
    w, s, e, n = tile_bounds(70762, 104119, 18)
    clipped = G.clip_convex(truth, np.array([[w, s], [e, s], [e, n], [w, n]]))
    iou = G.raster_iou_multi([[clipped]], [[recovered[0]]], resolution=512)
    assert iou > 0.85, iou


def test_extract_tile_features_hole_preserved():
    mask = np.zeros((256, 256), np.uint8)
    mask[40:220, 40:220] = 1
    mask[100:160, 100:160] = 0  # hole bigger than the close kernel
    polys = extract_tile_features(mask, 70762, 104119, 18, denoise_px=5, grow_px=5)
    assert len(polys) == 1
    assert len(polys[0]) == 2  # exterior + hole
    assert abs(G.signed_area(polys[0][0])) > abs(G.signed_area(polys[0][1]))


def test_mask_pct_filter(spark, parking_features):
    tiles = FX.tiles(spark, "parking")
    masks = rasterize_masks(spark, tiles, parking_features, zoom=18, size=512)
    pct = mask_nonzero_pct(masks)
    rows = {(r["x"], r["y"]): r["pct"] for r in pct.collect()}
    assert rows[(69623, 104946)] == 0.0
    assert rows[(70762, 104119)] > 5.0


def test_merge_cluster(spark):
    """The 3 near-adjacent rectangles (< threshold apart) merge into one
    component; distant grid rectangles stay singletons."""
    ft = FX.features(spark)
    cluster = ft.filter(F.col("props")["src"] == "merge-cluster")
    merged = merge_features(spark, cluster, threshold_m=25.0, cell_zoom=16)
    rows = merged.collect()
    assert len(rows) == 1, [r["component"] for r in rows]
    assert rows[0]["n_members"] == 3
    # merged exterior CCW (merge.py:68-73 parity) and area ~ 3 rects
    ext = G.as_ring(rows[0]["rings"][0])
    assert G.is_ccw(ext)
    single = abs(G.polygon_area_m2(G.as_ring(
        cluster.orderBy("feature_id").first()["rings"][0])))
    assert rows[0]["area_m2"] == pytest.approx(3 * single, rel=0.25)


def test_merge_keeps_separate_features(spark):
    ft = FX.features(spark)
    grid = ft.filter(F.col("props")["src"] == "grid").limit(4)
    merged = merge_features(spark, grid, threshold_m=25.0, cell_zoom=16)
    rows = merged.collect()
    assert len(rows) == 4
    assert all(r["n_members"] == 1 for r in rows)
    # component partition covers all shapes (merge.py:59 invariant)
    assert sum(r["n_members"] for r in rows) == 4


def test_dedupe_iou_thresholds(spark):
    """IoU golden pairs {0, ~0.3, ~0.55, ~0.9}: with threshold 0.5 the
    0/0.3 'a' shapes are kept, the 0.55/0.9 ones dropped."""
    ft = FX.features(spark)
    pred = ft.filter(F.col("props")["src"].rlike("^ioupair-\\d+-a$"))
    osm = ft.filter(F.col("props")["src"].rlike("^ioupair-\\d+-b$"))
    verdicts = dedupe(spark, pred, osm, threshold=0.5, cell_zoom=14)
    by_src = {}
    srcs = {r["feature_id"]: r["props"]["src"] for r in pred.collect()}
    for row in verdicts.collect():
        by_src[srcs[row["pred_id"]]] = row
    assert by_src["ioupair-0-a"]["keep"] is True  # disjoint
    assert by_src["ioupair-1-a"]["keep"] is True  # iou ~ 0.3 < 0.5
    assert by_src["ioupair-2-a"]["keep"] is False  # iou ~ 0.55
    assert by_src["ioupair-3-a"]["keep"] is False  # iou ~ 0.9
    assert by_src["ioupair-1-a"]["iou"] == pytest.approx(0.3, abs=0.05)
    assert by_src["ioupair-3-a"]["iou"] == pytest.approx(0.9, abs=0.05)
    for row in verdicts.collect():
        assert 0.0 <= row["iou"] <= 1.0  # spatial/core.py:75 invariant


def test_dedupe_cells_are_codegen_payload_free(spark):
    """Round-1 review item 6: the dedupe cover cells must be pure column
    expressions carrying no ring payload — the candidate-pair derivation
    contains no Python stage (MapInPandas/MapInArrow) and no rings column;
    payloads join onto the deduped pair set afterwards."""
    import pyspark.sql.functions as F

    from robosat_spark.operators.dedupe import _cover_cells
    from robosat_spark.sources.fixtures import features as fixture_features

    ft = fixture_features(spark).filter(F.col("props")["src"].like("ioupair-%"))
    cells = _cover_cells(ft, "pred_id", 16)
    assert set(cells.columns) == {"pred_id", "cx", "cy"}
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "mapInArrow" not in plan.lower(), plan
    assert cells.count() > 0
