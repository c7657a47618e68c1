"""Tile cover: polygon features -> covering z-level tiles (G2/J2, `rs cover`).

Reference behavior: per-feature ``burntiles.burn`` then set-union
(/root/reference/robosat/tools/cover.py:23-37). Here: Arrow-batched
``mapInArrow`` running the exact NumPy cover kernel on rings read by the
ring codec (``geometry.rings_from_arrow``), then ``distinct()``
(Catalyst partial+final hash agg = the set union, SURVEY.md §3.1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import pack_tile_id
from ..kernels.geometry import rings_from_arrow
from ..kernels.raster import cover_rings


def cover(features: DataFrame, zoom: int, keep_feature_id: bool = True) -> DataFrame:
    """-> DataFrame(feature_id?, z, x, y): tiles each feature intersects.

    The UDTF-like cover expansion: one input feature row fans out to its
    covered tiles (cheap vs the page-side volume; features are the small
    side of every downstream join)."""

    out_schema = "feature_id LONG, z INT, x LONG, y LONG"

    def gen(batches):
        for batch in batches:
            tiles = [cover_rings(rings, zoom) for rings in rings_from_arrow(batch.column("rings"))]
            fid = np.repeat(batch.column("feature_id").to_numpy(), [len(t) for t in tiles])
            xy = np.vstack([np.zeros((0, 2), np.int64), *tiles])
            yield pa.RecordBatch.from_arrays(
                [pa.array(fid, pa.int64()), pa.array(np.full(len(fid), zoom, np.int32)),
                 pa.array(xy[:, 0], pa.int64()), pa.array(xy[:, 1], pa.int64())],
                names=["feature_id", "z", "x", "y"],
            )

    covered = features.select("feature_id", "rings").mapInArrow(gen, out_schema)
    if keep_feature_id:
        return covered
    return covered.select("z", "x", "y").distinct()


def cover_tile_ids(features: DataFrame, zoom: int) -> DataFrame:
    """-> DataFrame(feature_id, tile_id) keyed by the packed cell id."""
    c = cover(features, zoom, keep_feature_id=True)
    return c.select("feature_id", pack_tile_id(zoom, F.col("x"), F.col("y")).alias("tile_id"))
