"""Rasterize: features + tile list -> per-tile uint8 mask grids (`rs rasterize`).

Reference behavior (/root/reference/robosat/tools/rasterize.py:100-140):
for each CSV tile, burn the mercator-projected polygons that cover it into
a size x size uint8 grid (zero grid when no features), with max-merge on
rerun collisions (:131-133).

Spark shape (J2 + G18 + A6): tiles LEFT OUTER JOIN cover(features) on the
tile key -> groupBy(x, y).applyInArrow(burn). The left-outer null group
produces the zero mask; burning every covering feature onto one canvas in
the group is the max-merge. Ring payloads join onto the (tile, feature)
cover rows and reach Python as Arrow lists (``rings_from_arrow``).

This module owns the mask grid row ``MASK_SCHEMA`` and its one Arrow
codec: ``decode_masks`` reads a batch into (z, x, y, grid) views and
``encode_masks`` writes grids back into a batch. Every mask operator
(predict, halo, ensemble, weights, sinks, serve) goes through the pair.

The deterministic "predict" substitute (P1, SURVEY.md §2.4) is
``synthesize_probs``: exact burns plus seeded salt-and-pepper noise and
quantization (G19), so features/merge/dedupe are exercised end-to-end
without torch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.geometry import rings_from_arrow
from ..kernels.mercator import lonlat_to_mercator, tile_xy_bounds
from ..kernels.raster import rasterize_rings

MASK_SCHEMA = "z INT, x LONG, y LONG, w INT, h INT, data BINARY"
_MASK_ARROW_SCHEMA = pa.schema([
    ("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
    ("w", pa.int32()), ("h", pa.int32()), ("data", pa.binary()),
])


def _column(batch, name: str) -> pa.Array:
    col = batch.column(name)
    return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col


def decode_masks(batch, data: str = "data", w: str = "w", h: str = "h") -> list:
    """Arrow record batch or table of mask rows -> [(z, x, y, grid)], each
    grid a read-only (h, w) uint8 view of the ``data`` buffer (no copy:
    the binary column's buffers are re-read as ``list<uint8>``). Joined
    frames carrying several grids per row name the columns to decode."""
    payload = _column(batch, data)
    validity, offsets, values = payload.buffers()
    list_type = pa.large_list if pa.types.is_large_binary(payload.type) else pa.list_
    raw = pa.Array.from_buffers(pa.uint8(), values.size if values else 0, [None, values])
    grids = pa.Array.from_buffers(list_type(pa.uint8()), len(payload), [validity, offsets],
                                  offset=payload.offset, children=[raw])
    off, raw = grids.offsets.to_numpy(), grids.values.to_numpy()
    z, x, y, ws, hs = (_column(batch, c).to_pylist() for c in ("z", "x", "y", w, h))
    return [(z[i], x[i], y[i], raw[off[i] : off[i + 1]].reshape(hs[i], ws[i]))
            for i in range(len(payload))]


def encode_masks(masks) -> pa.RecordBatch:
    """[(z, x, y, grid)] -> one ``MASK_SCHEMA`` record batch; w and h come
    from each grid's shape, data is its row-major uint8 bytes."""
    z, x, y, grids = zip(*masks) if masks else ((), (), (), ())
    grids = [np.asarray(g, dtype=np.uint8) for g in grids]
    cols = (z, x, y, [g.shape[1] for g in grids], [g.shape[0] for g in grids],
            [g.tobytes() for g in grids])
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, _MASK_ARROW_SCHEMA)], schema=_MASK_ARROW_SCHEMA
    )


def map_masks(masks: DataFrame, fn) -> DataFrame:
    """Per-tile grid transform in one Arrow pass: every mask row goes
    through ``fn(z, x, y, grid) -> (z, x, y, grid)`` via ``mapInArrow``."""
    return masks.mapInArrow(
        lambda batches: (encode_masks([fn(*m) for m in decode_masks(b)]) for b in batches),
        MASK_SCHEMA,
    )


def tile_transform(x: int, y: int, z: int, size: int):
    """world lon/lat -> pixel (col_f, row_f) via the tile's mercator bounds
    (the affine of /root/reference/robosat/tools/rasterize.py:75-77)."""
    left, bottom, right, top = tile_xy_bounds(x, y, z)
    sx = size / (right - left)
    sy = size / (top - bottom)

    def t(lon, lat):
        mx, my = lonlat_to_mercator(lon, lat)
        return (mx - left) * sx, (top - my) * sy

    return t


def rasterize_masks(
    spark: SparkSession,
    tiles_df: DataFrame,
    features: DataFrame,
    zoom: int,
    size: int = 512,
) -> DataFrame:
    """-> masks DataFrame(z, x, y, w, h, data) for every tile in tiles_df.

    Fully distributed: ring payloads join onto the (tile, feature) cover
    rows (no driver collection), so the feature side can be web-scale; the
    left-outer null group still yields the zero mask."""
    from .cover import cover

    cov = cover(features, zoom).select("x", "y", "feature_id").join(
        features.select("feature_id", "rings"), "feature_id"
    )
    tiles_norm = tiles_df.select(
        F.col("x").cast("long").alias("x"), F.col("y").cast("long").alias("y")
    ).distinct()
    joined = tiles_norm.join(cov, ["x", "y"], "left_outer").select("x", "y", "rings")

    def burn(key, table):
        x, y = key[0].as_py(), key[1].as_py()
        polys = [r for r in rings_from_arrow(table.column("rings")) if r is not None]
        canvas = burn_tile(polys, x, y, zoom, size)  # no polygons: the uncovered tile
        return pa.Table.from_batches([encode_masks([(zoom, x, y, canvas)])])

    return joined.groupBy("x", "y").applyInArrow(burn, MASK_SCHEMA)


def burn_tile(polys, x: int, y: int, zoom: int, size: int) -> np.ndarray:
    """Polygons (each a list of rings) -> tile (x, y)'s (size, size) uint8
    mask, every polygon burnt onto one canvas (max-merge, A6)."""
    t = tile_transform(x, y, zoom, size)
    canvas = np.zeros((size, size), dtype=np.uint8)
    for rings in polys:
        np.maximum(canvas, rasterize_rings(rings, size, size, t), out=canvas)
    return canvas


def quantize_probs(prob: np.ndarray) -> np.ndarray:
    """float[0,1] -> uint8 (G19): np.digitize over 256 linspace anchors,
    parity with /root/reference/robosat/tools/predict.py:102-103."""
    anchors = np.linspace(0, 1, 256)
    return np.digitize(prob, anchors).astype(np.uint8)


def unquantize_probs(q: np.ndarray) -> np.ndarray:
    """uint8 -> float (G20): anchors[q], 2-channel stack (bg = 1 - fg),
    parity with /root/reference/robosat/tools/masks.py:41-55."""
    anchors = np.linspace(0, 1, 256)
    fg = anchors[np.clip(q.astype(np.int64), 0, 255)]
    return np.stack([1.0 - fg, fg])


def synthesize_probs(masks: DataFrame, noise: float = 0.02) -> DataFrame:
    """Deterministic predict substitute: mask burn -> fg prob 0.9/0.1 with
    seeded salt-and-pepper noise -> quantized uint8 (P1)."""

    return map_masks(masks, lambda z, x, y, grid: (z, x, y, synthesize_tile_probs(x, y, grid, noise)))


def synthesize_tile_probs(x: int, y: int, grid: np.ndarray, noise: float = 0.02) -> np.ndarray:
    """One tile's burn -> its quantized fg probabilities (seeded by x, y)."""
    rng = np.random.RandomState((x * 73856093 ^ y * 19349663) % (2**31))
    prob = np.where(grid > 0, 0.9, 0.1)
    flip = rng.rand(*grid.shape) < noise
    return quantize_probs(np.where(flip, 1.0 - prob, prob))


def probs_to_masks(probs: DataFrame) -> DataFrame:
    """Single-model mask from quantized probabilities (G21/P2): unquantize
    -> argmax over (bg, fg), i.e. fg > 0.5. Multi-model soft voting lives
    in ``operators.ensemble``."""

    return map_masks(probs, lambda z, x, y, q: (z, x, y, probs_to_mask(q)))


def probs_to_mask(q: np.ndarray) -> np.ndarray:
    """One tile's quantized probabilities -> its (h, w) 0/1 mask."""
    return np.argmax(unquantize_probs(q), axis=0)


def mask_nonzero_pct(masks: DataFrame) -> DataFrame:
    """F9 helper: percent of non-zero pixels per tile (compare tool's
    masks_percentage, /root/reference/robosat/tools/compare.py:44-49)."""

    def gen(batches):
        for batch in batches:
            pct = [np.count_nonzero(g) / g.size * 100.0 for *_, g in decode_masks(batch)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).cast(_MASK_ARROW_SCHEMA.field(c).type) for c in ("z", "x", "y")]
                + [pa.array(pct, pa.float64())],
                names=["z", "x", "y", "pct"],
            )

    return masks.mapInArrow(gen, "z INT, x LONG, y LONG, pct DOUBLE")
