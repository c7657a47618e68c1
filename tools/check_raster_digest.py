"""Recompute every tile of the pinned raster_to_vector digest and compare.

    python3 tools/check_raster_digest.py

Run from the repository root. It covers ``dense_polygon_features()`` at the
digest's zoom exactly as ``perfbench/pin_raster.py`` does, runs all covered
tiles through perfbench's ``vectorize``, finds the tiles on which the exact
IoU raises (the digest's ``excluded``), dedupes the rest with
``dedupe_verdicts`` and compares ``tile_digests`` with
``perfbench/raster_digest.json`` at the workload's tolerances (area 1e-6
relative, IoU 1e-6, equal keep). It only reads the pinned file. Exits 1 on
any mismatch or on a different excluded set.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def _excluded(polys, covering, rings_of) -> dict:
    """Tiles on which the exact IoU of a one-hit polygon raises, with the
    error, found the way the digest found them."""
    from robosat_spark.kernels import geometry as G

    out = {}
    for key, preds in polys.items():
        x, y = (int(v) for v in key.split(","))
        for pred in preds:
            hits = [rings_of[f] for f in covering[(x, y)] if G.rings_intersect(pred[0], rings_of[f][0])]
            if len(hits) != 1:
                continue
            try:
                G.exact_iou(pred, hits[0])
            except AssertionError as e:
                out[key] = f"exact_iou raised AssertionError({e})"
                break
    return out


def _mismatch(want, have) -> str | None:
    if len(want) != len(have):
        return f"{len(have)} polygons, pinned {len(want)}"
    for (wa, wi, wk), (ha, hi, hk) in zip(want, have):
        if abs(wa - ha) > 1e-6 * max(1.0, abs(wa)) or abs(wi - hi) > 1e-6 or wk != hk:
            return f"polygon ({ha}, {hi}, {hk}) != pinned ({wa}, {wi}, {wk})"
    return None


def main() -> int:
    from measure import Tracer
    from run import _isolate, _start_session, _stop_everything
    from workloads import ZOOM, dedupe_verdicts, load_digest, tile_digests, vectorize

    from pyspark.sql import functions as F

    from robosat_spark.kernels.geometry import as_ring
    from robosat_spark.kernels.raster import cover_rings
    from robosat_spark.sources.fixtures import dense_polygon_features

    pinned = load_digest()
    scratch = _isolate(os.path.join(ROOT, ".perfbench_data"))
    spark = _start_session("check-digest")
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
        frames, _masks, extracted = vectorize(spark, tiles, feats, Tracer(False))
        polys: dict[str, list] = {}
        for r in extracted.select("x", "y", "rings").collect():
            polys.setdefault(f"{r['x']},{r['y']}", []).append([as_ring(g) for g in r["rings"]])
        excluded = _excluded(polys, covering, rings_of)
        good = extracted.filter(~F.concat_ws(",", "x", "y").isin(list(excluded)))
        got = tile_digests(good, dedupe_verdicts(spark, good, feats, Tracer(False), frames))
    finally:
        _stop_everything(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    bad = 0
    for key, rec in sorted(pinned["tiles"].items()):
        why = _mismatch(rec["polygons"], got.get(key, []))
        if why:
            bad += 1
            print(f"tile {key}: {why}")
    kept = sorted(f"{x},{y}" for x, y in covering if f"{x},{y}" not in excluded)
    same_tiles = kept == sorted(pinned["tiles"])
    if not same_tiles:
        print(f"covered tiles differ: {len(kept)} kept here, {len(pinned['tiles'])} pinned")
    same_excluded = sorted(excluded) == sorted(pinned["excluded"])
    n = len(pinned["tiles"])
    print(f"{n - bad}/{n} tiles match; excluded {len(excluded)} "
          f"({'same as' if same_excluded else 'differs from'} the {len(pinned['excluded'])} pinned)")
    return 0 if bad == 0 and same_tiles and same_excluded else 1


if __name__ == "__main__":
    sys.exit(main())
