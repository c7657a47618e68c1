"""IoU dedupe (`rs dedupe`): drop predicted features already mapped in OSM.

Reference chain (/root/reference/robosat/tools/dedupe.py:30-73): per
predicted shape, R-tree bbox candidates -> exact ``intersects`` refine ->
union of intersecting OSM shapes -> keep when ``iou(pred, union) <
threshold``; vacuous cases (no candidates / no intersecting) keep.

Spark shape (J4), fully distributed and shuffle-lean:

  1. bbox cover cells at ``cell_zoom`` are derived as PURE COLUMN
     EXPRESSIONS (bbox fold over the exterior ring + sequence/explode on
     the tile range) — no Python pass, and crucially NO ring payload rides
     the cell rows (round-1 review: replicating rings into every covering
     cell amplified shuffle bytes by the cover factor);
  2. candidate pairs come from the (cx, cy) equi LEFT OUTER join of the
     two slim cell tables, deduped to (pred_id, osm_id);
  3. ring payloads join onto the deduped pair set (merge.py shape), so
     each ring crosses the shuffle once per PAIR, not once per cell;
  4. groupBy(pred_id).applyInArrow, rings read from the Arrow list
     offsets (``geometry.rings_from_arrow``): cheap exact ``intersects``
     refine first, then IoU only on survivors — EXACT clipping IoU
     (triangulation + convex clip, concave/holed polygons included) when
     a single candidate intersects, so keep/drop verdicts at the 0.5
     threshold carry no raster quantization; supersampled raster IoU for
     multi-candidate unions and degenerate rings
     (dedupe.py:51-64 predicate-cascade ordering, SURVEY.md §4).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tiles import tile_x, tile_y
from ..kernels import geometry as G

DEDUP_SCHEMA = "pred_id LONG, iou DOUBLE, n_candidates INT, keep BOOLEAN"


def _cover_cells(features: DataFrame, id_col: str, cell_zoom: int) -> DataFrame:
    """(feature_id, rings) -> (id, cx, cy): bbox cover cells at the index
    zoom, all whole-stage codegen — bbox via an aggregate fold over the
    exterior ring, the x/y tile ranges via sequence+explode. Payload-free
    by design: rings join back onto the deduped PAIR set, never onto
    cells."""
    ext = F.element_at("rings", 1)
    minx = F.aggregate(ext, F.lit(1e300), lambda a, p: F.least(a, p[0]))
    miny = F.aggregate(ext, F.lit(1e300), lambda a, p: F.least(a, p[1]))
    maxx = F.aggregate(ext, F.lit(-1e300), lambda a, p: F.greatest(a, p[0]))
    maxy = F.aggregate(ext, F.lit(-1e300), lambda a, p: F.greatest(a, p[1]))
    boxed = features.select(
        F.col("feature_id").alias(id_col),
        tile_x(minx, cell_zoom).alias("tx0"),
        tile_x(maxx, cell_zoom).alias("tx1"),
        tile_y(maxy, cell_zoom).alias("ty0"),
        tile_y(miny, cell_zoom).alias("ty1"),
    )
    return boxed.select(
        id_col,
        F.explode(F.sequence("tx0", "tx1")).alias("cx"),
        F.col("ty0"),
        F.col("ty1"),
    ).select(id_col, "cx", F.explode(F.sequence("ty0", "ty1")).alias("cy"))


def judge_polygon(pred_rings, cands, threshold: float = 0.5, iou_resolution: int = 256):
    """One predicted polygon against its bbox candidates (each a list of
    rings) -> (iou, keep); the dedupe cascade, no Spark needed."""
    if not cands:  # no bbox candidates -> keep (dedupe.py:51-52)
        return 0.0, True
    intersecting = [rings for rings in cands if G.rings_intersect(pred_rings[0], rings[0])]
    if not intersecting:  # none intersect -> keep (dedupe.py:58-59)
        return 0.0, True
    iou = None
    if len(intersecting) == 1:
        # exact clipping IoU (triangulate + convex clip; concave and
        # holed polygons included) — no quantization at the keep/drop
        # threshold; None on degenerate triangulation -> raster
        iou = G.exact_iou(pred_rings, intersecting[0])
    if iou is None:
        # multi-candidate unions (overlap inclusion-exclusion across
        # candidates is not worth exactness) and degenerate rings take
        # the supersampled raster path
        iou = G.raster_iou_multi([pred_rings], intersecting, resolution=iou_resolution)
    return iou, iou < threshold


def dedupe(
    spark: SparkSession,
    predicted: DataFrame,
    osm: DataFrame,
    threshold: float = 0.5,
    cell_zoom: int = 16,
    iou_resolution: int = 256,
) -> DataFrame:
    """-> (pred_id, iou, n_candidates, keep): keep = not already mapped.

    ``iou`` is 0.0 for vacuous keeps (no bbox candidates / none intersect),
    mirroring the reference's short-circuit keeps."""
    pcells = _cover_cells(predicted, "pred_id", cell_zoom)
    ocells = _cover_cells(osm, "osm_id", cell_zoom)
    pairs = (
        pcells.join(ocells, ["cx", "cy"], "left_outer")
        .select("pred_id", "osm_id")
        .dropDuplicates(["pred_id", "osm_id"])
    )
    pred_payload = predicted.select(
        F.col("feature_id").alias("pred_id"), F.col("rings").alias("pred_rings")
    )
    osm_payload = osm.select(
        F.col("feature_id").alias("osm_id"), F.col("rings").alias("osm_rings")
    )
    cand = pairs.join(pred_payload, "pred_id").join(osm_payload, "osm_id", "left_outer")

    def judge(key, table):
        pred_rings = G.rings_from_arrow(table.column("pred_rings").slice(0, 1))[0]
        cands = [
            rings
            for o, rings in zip(table.column("osm_id").to_pylist(),
                                G.rings_from_arrow(table.column("osm_rings")))
            if o is not None
        ]
        iou, keep = judge_polygon(pred_rings, cands, threshold, iou_resolution)
        return pa.table({
            "pred_id": pa.array([key[0].as_py()], pa.int64()),
            "iou": pa.array([float(iou)], pa.float64()),
            "n_candidates": pa.array([len(cands)], pa.int32()),
            "keep": pa.array([bool(keep)], pa.bool_()),
        })

    return cand.groupBy("pred_id").applyInArrow(judge, DEDUP_SCHEMA)


def dedupe_kept_features(predicted: DataFrame, verdicts: DataFrame) -> DataFrame:
    """Join back: the kept predicted features (the `rs dedupe` output file)."""
    return predicted.join(
        verdicts.filter(F.col("keep")).select(F.col("pred_id").alias("feature_id")),
        "feature_id",
        "left_semi",
    )
