"""The two Arrow wire formats of the raster<->vector chain and the chain
that carries them: ring lists (``ARRAY<ARRAY<ARRAY<DOUBLE>>>``, codec in
``kernels.geometry``) and mask grid rows (``MASK_SCHEMA``, codec in
``operators.rasterize``)."""

import warnings

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from robosat_spark.kernels import geometry as G
from robosat_spark.operators.rasterize import MASK_SCHEMA, decode_masks, encode_masks


def test_ring_and_mask_codecs_round_trip():
    ext = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    hole = np.array([[1.0, 1.0], [1.0, 2.0], [2.0, 2.0], [1.0, 1.0]])
    tri = [[10.5, -3.25], [11.0, -3.0], [10.75, -2.5], [10.5, -3.25]]
    polys = [[ext, hole], [], None, [tri]]

    arr = G.rings_to_arrow(polys)
    assert arr.type == G.RINGS_ARROW_TYPE
    assert arr.to_pylist() == [[ext.tolist(), hole.tolist()], [], None, [tri]]
    back = G.rings_from_arrow(arr)
    assert back[1] == [] and back[2] is None  # empty polygon list, NULL row
    assert [r.shape for r in back[0]] == [(5, 2), (4, 2)]
    assert np.array_equal(back[0][1], hole) and np.array_equal(back[3][0], np.asarray(tri))
    # sliced and chunked arrays read through the same offsets
    assert np.array_equal(G.rings_from_arrow(arr.slice(3))[0][0], np.asarray(tri))
    chunked = G.rings_from_arrow(pa.chunked_array([arr.slice(0, 2), arr.slice(2)]))
    assert chunked[2] is None and np.array_equal(chunked[0][0], ext)

    wide = np.arange(3 * 5, dtype=np.uint8).reshape(3, 5)  # w != h
    batch = encode_masks([(18, 70762, 104119, wide), (18, 1, 2, np.ones((2, 2), np.uint8))])
    assert batch.schema.names == [f.split()[0] for f in MASK_SCHEMA.split(", ")]
    assert batch.column("w").to_pylist() == [5, 2] and batch.column("h").to_pylist() == [3, 2]
    (z, x, y, grid), _ = decode_masks(batch)
    assert (z, x, y) == (18, 70762, 104119)
    assert grid.shape == (3, 5) and np.array_equal(grid, wide)
    assert len(decode_masks(pa.Table.from_batches([batch.slice(1), batch]))) == 3


@pytest.fixture(scope="module")
def raster_chain(spark):
    """Parking tiles (one of them uncovered by any feature) through
    rasterize -> predict -> extract, the extracted polygons as a feature
    table, then merge and dedupe — every operator built while PySpark's
    type-hint UserWarning is an error."""
    from robosat_spark.operators.dedupe import dedupe
    from robosat_spark.operators.features import extract_features, to_feature_table
    from robosat_spark.operators.merge import merge_features
    from robosat_spark.operators.rasterize import (
        probs_to_masks,
        rasterize_masks,
        synthesize_probs,
    )
    from robosat_spark.sources import fixtures as FX

    parking = FX.features(spark).filter(F.col("props")["src"].startswith("reference-parking"))
    tiles = FX.tiles(spark, "parking")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        masks = rasterize_masks(spark, tiles, parking, zoom=18, size=256)
        extracted = extract_features(
            probs_to_masks(synthesize_probs(masks, noise=0.01)),
            denoise_px=5, grow_px=5, simplify_threshold=0.005,
        )
        extracted = extracted.localCheckpoint()
        table = to_feature_table(extracted)
        merged = merge_features(spark, table, threshold_m=2.0)
        verdicts = dedupe(spark, table, parking)
        return {
            "masks": {(r["x"], r["y"]): r["data"] for r in masks.collect()},
            "tiles": [(r["x"], r["y"]) for r in extracted.select("x", "y").collect()],
            "merged": merged.collect(),
            "verdicts": verdicts.collect(),
        }


def test_raster_chain_emits_no_udf_type_hint_warning(raster_chain):
    assert raster_chain["merged"]
    assert len(raster_chain["verdicts"]) == len(raster_chain["tiles"])


def test_merge_features_on_extracted_tile_polygons(raster_chain):
    """Per-tile pieces of one parking lot meet at the tile edges and merge
    back into one polygon; the uncovered tile burns nothing and adds no
    feature."""
    uncovered = (69623, 104946)
    assert uncovered in raster_chain["masks"] and not any(raster_chain["masks"][uncovered])
    tiles, merged = raster_chain["tiles"], raster_chain["merged"]
    assert uncovered not in tiles and len(tiles) >= 2
    assert sum(r["n_members"] for r in merged) == len(tiles)
    assert len(merged) < len(tiles)
    for r in merged:
        assert G.is_ccw(G.as_ring(r["rings"][0])) and r["area_m2"] > 0
