"""The raster->vector chain recomputed without Spark on pinned tiles.

Each tile goes burn -> synthesized prediction -> mask -> extract ->
dedupe verdict through the same pure functions the Spark operators call,
and is compared with ``perfbench/raster_digest.json`` (read only) at the
raster_to_vector workload's tolerances: area to 1e-6 relative, IoU to
1e-6, equal keep. The whole digest is checked with Spark by
``tools/check_raster_digest.py``.
"""

import json
import os

import numpy as np
import pytest

from robosat_spark.kernels import geometry as G
from robosat_spark.operators.dedupe import judge_polygon
from robosat_spark.operators.features import extract_tile_features
from robosat_spark.operators.rasterize import burn_tile, probs_to_mask, synthesize_tile_probs
from robosat_spark.sources.fixtures import dense_polygon_rows

DIGEST = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "raster_digest.json")

# two mid-cost tiles for each of 0-7 and 9 pinned polygons; 70767,104125
# has a verdict that takes the raster IoU and 70777,104131 a polygon with
# a hole
TILES = [
    "70750,104136", "70751,104119", "70751,104129", "70754,104123", "70754,104136",
    "70756,104118", "70757,104113", "70757,104128", "70757,104133", "70758,104118",
    "70763,104135", "70766,104130", "70767,104125", "70767,104127", "70768,104127",
    "70773,104131", "70777,104130", "70777,104131", "70777,104132", "70778,104131",
]


@pytest.fixture(scope="module")
def digest():
    with open(DIGEST) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def rings_of():
    return {row[0]: [np.asarray(r, dtype=np.float64) for r in row[3]] for row in dense_polygon_rows()}


def tile_polygons(x, y, zoom, size, feats):
    """-> [(area_m2, iou, keep, took_raster_iou, n_rings)] of one tile."""
    mask = probs_to_mask(synthesize_tile_probs(x, y, burn_tile(feats, x, y, zoom, size)))
    out = []
    for pred in extract_tile_features(mask.astype(np.uint8), x, y, zoom):
        # the polygon as the ring codec hands it to dedupe
        pred = G.rings_from_arrow(G.rings_to_arrow([pred]))[0]
        iou, keep = judge_polygon(pred, feats)
        hits = [f for f in feats if G.rings_intersect(pred[0], f[0])]
        took_raster = len(hits) > 1 or (len(hits) == 1 and G.exact_iou(pred, hits[0]) is None)
        out.append((G.polygon_area_m2(pred[0]), iou, keep, took_raster, len(pred)))
    return out


def test_pinned_tiles_recompute_without_spark(digest, rings_of):
    took_raster = has_hole = False
    for key in TILES:
        rec = digest["tiles"][key]
        x, y = (int(v) for v in key.split(","))
        got = tile_polygons(x, y, digest["zoom"], digest["size"], [rings_of[f] for f in rec["features"]])
        assert len(got) == len(rec["polygons"]), key
        for (wa, wi, wk), (ha, hi, hk, raster, n_rings) in zip(rec["polygons"], got):
            assert abs(wa - ha) <= 1e-6 * max(1.0, abs(wa)), (key, wa, ha)
            assert abs(wi - hi) <= 1e-6, (key, wi, hi)
            assert wk == hk, key
            took_raster |= raster
            has_hole |= n_rings > 1
    assert took_raster and has_hole
