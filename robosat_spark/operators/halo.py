"""Tile-halo exchange (J6): compose each tile with its 8 neighbors.

Reference behavior (/root/reference/robosat/tiles.py:139-227 +
/root/reference/robosat/datasets.py:83-136): buffered prediction reads a
(size + 2*overlap)^2 window per tile, pasting the 8 adjacent tiles around
the center and nodata-filling missing neighbors; after inference the
overlap border is cropped back off (datasets.py:123-136).

Spark shape: the reference's per-tile random reads become one structured
join — tiles x 9 offsets, equi-join on the shifted key (O(9T) hash join,
not a theta join), then ``groupBy(z, x, y).applyInArrow`` pastes the
group into the halo canvas; grids enter and leave through the mask codec
(``rasterize.decode_masks`` / ``encode_masks``). The same
buffer-replicate trick handles any cross-tile-boundary computation
(feature merging, convolution) without a global shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tiles import neighbor_offsets_df
from .rasterize import MASK_SCHEMA, decode_masks, encode_masks, map_masks


def stitch_halo(spark: SparkSession, masks: DataFrame, overlap: int = 32) -> DataFrame:
    """masks(z,x,y,w,h,data) -> same keys, (w+2*overlap, h+2*overlap) grids.

    Missing neighbors contribute zeros (nodata fill, tiles.py:200-207)."""
    probes = masks.select(
        F.col("z"), F.col("x").alias("cx"), F.col("y").alias("cy")
    ).crossJoin(F.broadcast(neighbor_offsets_df(spark, include_self=True))).select(
        "z", "cx", "cy", (F.col("cx") + F.col("dx")).alias("nx"),
        (F.col("cy") + F.col("dy")).alias("ny"), "dx", "dy",
    )
    joined = probes.join(
        masks.select(
            F.col("z").alias("z2"), F.col("x").alias("nx"), F.col("y").alias("ny"),
            "w", "h", "data",
        ),
        ["nx", "ny"],
    ).filter(F.col("z") == F.col("z2")).select(
        "z", F.col("cx").alias("x"), F.col("cy").alias("y"), "dx", "dy", "w", "h", "data"
    )

    def stitch(key, table):
        z, cx, cy = (k.as_py() for k in key)
        neighbors = decode_masks(table)  # (z, center x, center y, neighbor grid)
        h, w = neighbors[0][3].shape
        canvas = np.zeros((h + 2 * overlap, w + 2 * overlap), dtype=np.uint8)
        for (*_, grid), dx, dy in zip(neighbors, table.column("dx").to_pylist(),
                                      table.column("dy").to_pylist()):
            # neighbor (dx,dy) occupies the block offset by (dx,dy) tiles
            # relative to the halo origin; clip to the canvas window
            x0 = overlap + dx * w
            y0 = overlap + dy * h
            sx0, sy0 = max(0, -x0), max(0, -y0)
            sx1 = min(w, canvas.shape[1] - x0)
            sy1 = min(h, canvas.shape[0] - y0)
            if sx1 > sx0 and sy1 > sy0:
                canvas[y0 + sy0 : y0 + sy1, x0 + sx0 : x0 + sx1] = grid[sy0:sy1, sx0:sx1]
        return pa.Table.from_batches([encode_masks([(z, cx, cy, canvas)])])

    return joined.groupBy("z", "x", "y").applyInArrow(stitch, MASK_SCHEMA)


def unbuffer(masks: DataFrame, overlap: int = 32) -> DataFrame:
    """Crop the halo border back off (G23, datasets.py:123-136)."""
    return map_masks(masks, lambda z, x, y, grid: (
        z, x, y, grid[overlap : grid.shape[0] - overlap, overlap : grid.shape[1] - overlap]
    ))
