"""Pin the per-tile raster_to_vector digest over the whole z18 cover of
``dense_polygon_features()``.

    python3 perfbench/pin_raster.py

Writes ``perfbench/raster_digest.json``: for each covered tile, the ids of
the features that cover it, its cost in ms and, per extracted polygon in
local_id order, [area_m2, dedupe IoU, keep]. A tile's digest depends only on
the features covering it, so any seeded sample of tiles can be checked
against it. Re-pin only when an output change is intended.

A tile's cost is the single-threaded time of its extract and dedupe kernels
(``extract_tile_features`` on its predicted mask, then the IoU the dedupe
verdict takes for each polygon), timed in this process. It only ranks tiles
into equal-count cost bands, so that every seed samples the same mix of work.

Tiles on which the dedupe operator raises are left out of the digest (and so
never sampled), each listed under ``excluded`` with the error: a workload must
not fail on a good engine. The driver-side IoU calls above find them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main() -> None:
    from measure import Tracer
    from run import _isolate, _start_session, _stop_everything
    from workloads import (
        DIGEST_PATH,
        RASTER_SIZE,
        ZOOM,
        dedupe_verdicts,
        tile_digests,
        vectorize,
    )

    from pyspark.sql import functions as F

    from robosat_spark.kernels import geometry as G
    from robosat_spark.kernels.geometry import as_ring
    from robosat_spark.kernels.raster import cover_rings
    from robosat_spark.operators.features import extract_tile_features
    from robosat_spark.sources.fixtures import dense_polygon_features

    scratch = _isolate(os.path.join(os.path.dirname(HERE), ".perfbench_data"))
    spark = _start_session("pin")
    try:
        feats = dense_polygon_features(spark)
        covering: dict[tuple[int, int], list[int]] = {}
        rings_of = {}
        for r in feats.select("feature_id", "rings").collect():
            rings_of[r["feature_id"]] = [as_ring(g) for g in r["rings"]]
            for x, y in cover_rings(rings_of[r["feature_id"]], ZOOM).tolist():
                covering.setdefault((x, y), []).append(r["feature_id"])
        tiles = spark.createDataFrame(
            [(x, y, ZOOM) for x, y in sorted(covering)], "x LONG, y LONG, z INT"
        )
        frames, pred_masks, extracted = vectorize(spark, tiles, feats, Tracer(False))
        polys: dict[str, list] = {}
        for r in extracted.select("x", "y", "rings").collect():
            polys.setdefault(f"{r['x']},{r['y']}", []).append([as_ring(g) for g in r["rings"]])
        excluded, cost_ms = {}, {}
        for r in pred_masks.select("x", "y", "w", "h", "data").collect():
            key = f"{r['x']},{r['y']}"
            mask = np.frombuffer(r["data"], dtype=np.uint8).reshape(r["h"], r["w"])
            t0 = time.perf_counter()
            extract_tile_features(mask, r["x"], r["y"], ZOOM)
            for pred in polys.get(key, []):
                hits = [
                    rings_of[f] for f in covering[(r["x"], r["y"])]
                    if G.rings_intersect(pred[0], rings_of[f][0])
                ]
                iou = None
                if len(hits) == 1:  # the only case dedupe takes the exact IoU
                    try:
                        iou = G.exact_iou(pred, hits[0])
                    except AssertionError as e:
                        excluded[key] = f"exact_iou raised AssertionError({e})"
                if hits and iou is None and key not in excluded:
                    G.raster_iou_multi([pred], hits, resolution=256)
            cost_ms[key] = round((time.perf_counter() - t0) * 1e3, 1)
        good = extracted.filter(
            ~F.concat_ws(",", "x", "y").isin(list(excluded))
        )
        verdicts = dedupe_verdicts(spark, good, feats, Tracer(False), frames)
        polygons = tile_digests(good, verdicts)
    finally:
        _stop_everything(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    digest = {
        "zoom": ZOOM,
        "size": RASTER_SIZE,
        "tiles": {
            f"{x},{y}": {
                "features": sorted(fids),
                "cost_ms": cost_ms[f"{x},{y}"],
                "polygons": polygons.get(f"{x},{y}", []),
            }
            for (x, y), fids in sorted(covering.items())
            if f"{x},{y}" not in excluded
        },
        "excluded": excluded,
    }
    with open(DIGEST_PATH, "w") as f:
        json.dump(digest, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(digest['tiles'])} tiles to {DIGEST_PATH}, excluded {len(excluded)}")


if __name__ == "__main__":
    main()
