"""Mask -> vector featurization (`rs features`): the raster->vector handoff.

Per-tile chain, parity with the ParkingHandler
(/root/reference/robosat/features/parking.py:19-100):
  denoise (morph open) -> grow (morph close) -> contours with hierarchy ->
  DP simplify (eps = threshold * arcLength) -> drop rings < 3 vertices ->
  hierarchy walk: depth-0 contour = exterior, depth-1 children = holes,
  deeper nesting dropped (F7) -> pixel -> [0,1] -> world lon/lat with
  y-flip (dy -> 1 - dy, /root/reference/robosat/features/core.py:37-62) ->
  close ring -> validity filter (F5).

Spark shape: ``groupBy(z, x, y).applyInArrow`` over tile groups — the
mask grid is the vectorization unit; each group is one tile's (h, w) uint8
grid, read through the mask codec (``rasterize.decode_masks``), and the
polygons leave through the ring codec (``geometry.rings_to_arrow``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import geometry as G
from ..kernels import mercator as M
from ..kernels import raster as R
from .rasterize import decode_masks

FEATURE_OUT_SCHEMA = (
    "z INT, x LONG, y LONG, local_id INT, rings ARRAY<ARRAY<ARRAY<DOUBLE>>>, "
    "n_rings INT, area_m2 DOUBLE"
)


def _featurize_ring(pts: np.ndarray, x: int, y: int, z: int, w: int, h: int) -> np.ndarray:
    """pixel (col,row) -> closed world lon/lat ring (G11 parity: dx=px/xmax,
    dy flipped; ring closed by appending the first point)."""
    dx = pts[:, 0].astype(np.float64) / w
    dy = 1.0 - pts[:, 1].astype(np.float64) / h
    lon, lat = M.pixel_to_location(x, y, z, dx, dy)
    ring = np.column_stack([lon, lat])
    return G.close_ring(ring)


def extract_tile_features(
    mask: np.ndarray,
    x: int,
    y: int,
    z: int,
    denoise_px: int = 20,
    grow_px: int = 20,
    simplify_threshold: float = 0.01,
):
    """One tile's mask -> list of polygons (each a list of closed rings).

    Pure-NumPy core (unit-testable without Spark)."""
    h, w = mask.shape
    cleaned = R.morph_close(R.morph_open(mask, denoise_px), grow_px)
    contours, hierarchy = R.find_contours(cleaned)
    if not contours:
        return []

    simplified = []
    for c in contours:
        pts = c.astype(np.float64)
        eps = simplify_threshold * G.arc_length(pts, closed=True)
        simplified.append(G.simplify_dp(pts, eps, closed=True))

    def depth(i):
        d, p = 0, hierarchy[i]["parent"]
        while p != -1:
            d += 1
            p = hierarchy[p]["parent"]
        return d

    groups: dict[int, list[int]] = {}
    for i in range(len(simplified)):
        if len(simplified[i]) < 3:  # F6: dropped by simplification
            continue
        d = depth(i)
        if d > 1:  # F7: nesting too deep, skip (parking.py:70-75)
            continue
        root = hierarchy[i]["parent"] if d == 1 else i
        groups.setdefault(root, []).append(i)

    polygons = []
    for root, members in groups.items():
        if root not in members:  # outer ring itself was dropped
            continue
        rings = [_featurize_ring(simplified[root], x, y, z, w, h)]
        for m in members:
            if m != root:
                rings.append(_featurize_ring(simplified[m], x, y, z, w, h))
        # F5 validity: closed, >=4 points incl. closure, nonzero area
        ext = rings[0]
        if len(ext) < 4 or abs(G.signed_area(ext)) <= 0.0:
            continue
        polygons.append(rings)
    return polygons


def extract_features(
    masks: DataFrame,
    denoise_px: int = 20,
    grow_px: int = 20,
    simplify_threshold: float = 0.01,
) -> DataFrame:
    """masks(z,x,y,w,h,data) -> per-tile vector features DataFrame."""

    def per_tile(key, table):
        rows = [
            (z, x, y, li, rings)
            for z, x, y, mask in decode_masks(table)
            for li, rings in enumerate(extract_tile_features(
                mask, x, y, z, denoise_px, grow_px, simplify_threshold
            ))
        ]
        return pa.table({
            "z": pa.array([r[0] for r in rows], pa.int32()),
            "x": pa.array([r[1] for r in rows], pa.int64()),
            "y": pa.array([r[2] for r in rows], pa.int64()),
            "local_id": pa.array([r[3] for r in rows], pa.int32()),
            "rings": G.rings_to_arrow(r[4] for r in rows),
            "n_rings": pa.array([len(r[4]) for r in rows], pa.int32()),
            "area_m2": pa.array([G.polygon_area_m2(r[4][0]) for r in rows], pa.float64()),
        })

    return masks.groupBy("z", "x", "y").applyInArrow(per_tile, FEATURE_OUT_SCHEMA)


def to_feature_table(extracted: DataFrame) -> DataFrame:
    """Normalize extracted per-tile polygons into the engine ``features``
    schema (stable ids via deterministic row_number, §2.9)."""
    from pyspark.sql import Window

    w = Window.orderBy("z", "x", "y", "local_id")
    flat = extracted.withColumn("feature_id", F.row_number().over(w).cast("long") - 1)
    return flat.select(
        "feature_id",
        F.lit("Polygon").alias("kind"),
        F.col("feature_id").alias("geom_id"),
        "rings",
        F.struct(
            F.aggregate(F.flatten("rings"), F.lit(1e300), lambda a, p: F.least(a, p[0])).alias("minx"),
            F.aggregate(F.flatten("rings"), F.lit(1e300), lambda a, p: F.least(a, p[1])).alias("miny"),
            F.aggregate(F.flatten("rings"), F.lit(-1e300), lambda a, p: F.greatest(a, p[0])).alias("maxx"),
            F.aggregate(F.flatten("rings"), F.lit(-1e300), lambda a, p: F.greatest(a, p[1])).alias("maxy"),
        ).alias("bbox"),
        F.map_from_arrays(
            F.array(F.lit("area")), F.array(F.round("area_m2").cast("long").cast("string"))
        ).alias("props"),
    )
