"""The three workloads: seeded inputs, one closed-loop job, output checks.

Each workload (see ``WORKLOADS`` at the bottom) provides
  ``prepare(spark, data_dir, seed, size) -> Inputs``  generate or reuse the
      seed's inputs and reference (untimed; cached under ``data_dir``);
  ``check_cache(inputs)``  the cheap set-up validation of a cached input;
  ``warmup(spark, inputs, tracer, scratch) -> str | None``  one job on a
      slice of the input, checked like ``check``;
  ``run(spark, inputs, tracer, scratch) -> Result``  one job, from the first
      engine call to the collected or committed result;
  ``check(spark, inputs, result) -> str | None``  error text on a wrong
      output, against a reference that does not trust the code under test;
  ``layers(...) -> dict``  per-layer values of one traced job;
  ``probes(spark, inputs, result) -> dict``  once-per-run layer probes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from measure import executed_plan, iter_nodes, metric_sum, scan_side

ZOOM = 18
RASTER_SIZE = 256
HERE = os.path.dirname(os.path.abspath(__file__))
DIGEST_PATH = os.path.join(HERE, "raster_digest.json")

# input shapes: pages rows before the seeded drop, parquet files, and the
# pinned predicted-polygon count of each sampled z18 tile
SIZES = {
    "full": {"pages": 200_000, "files": 16, "tile_polygons": (3, 4, 5, 6)},
    "tiny": {"pages": 20_000, "files": 4, "tile_polygons": (3, 4)},
}
# each seed drops about 1 in DROP_MOD urls of the base pages table
DROP_MOD = 20


@dataclass
class Result:
    items: int
    output: object = None
    plans: list = field(default_factory=list)


# --------------------------------------------------------------------------
# input cache
# --------------------------------------------------------------------------


def _cached(path: str):
    try:
        with open(os.path.join(path, "_READY")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _publish(tmp: str, final: str, meta: dict) -> None:
    with open(os.path.join(tmp, "_READY"), "w") as f:
        json.dump(meta, f)
    if os.path.exists(final):  # a concurrent run won the race
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def _fresh(path: str) -> str:
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


@dataclass
class Inputs:
    dir: str
    meta: dict


# --------------------------------------------------------------------------
# join workloads: pages x features
# --------------------------------------------------------------------------


def _pack(x, y):
    return (np.int64(ZOOM) << 58) | (x.astype(np.int64) << 29) | y.astype(np.int64)


def _tiles_np(lon, lat):
    """Slippy z18 tile ids in NumPy, same arithmetic as the scan-side Column
    expressions (a point would need to sit within an ulp of a tile edge for
    the two to disagree)."""
    n = float(2**ZOOM)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)
    t = np.tan(np.radians(np.clip(lat, -85.051128779806604, 85.051128779806604)))
    asinh_t = np.log(t + np.sqrt(t * t + 1.0))
    y = np.clip(np.floor((1.0 - asinh_t / 3.141592653589793) / 2.0 * n), 0, n - 1)
    return _pack(x, y)


def _join_reference(d: str) -> None:
    """Exact hits from pyarrow + the public PIP kernel: the geo token is
    parsed with a regex, tiles come from NumPy, candidates from the cover
    kernel. Shares no code with the broadcast refine. Every point and hit
    keeps the index of its parquet file, so a slice of files has a
    reference too."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from robosat_spark.kernels.geometry import as_ring, points_in_polygon
    from robosat_spark.kernels.raster import cover_rings

    cols = {k: [] for k in ("uid", "ts", "lon", "lat", "part")}
    for i, path in enumerate(_parquet_files(os.path.join(d, "pages"))):
        t = pq.read_table(path, columns=["url", "warc_ts", "text"])
        geo = pc.extract_regex(
            t["text"], r"geo:(?P<lat>[-+]?\d+\.\d+),(?P<lon>[-+]?\d+\.\d+)"
        )
        ok = pc.is_valid(geo).to_numpy(zero_copy_only=False)
        for k, arr in (
            ("lat", pc.cast(pc.struct_field(geo, "lat"), "float64")),
            ("lon", pc.cast(pc.struct_field(geo, "lon"), "float64")),
            ("uid", pc.cast(pc.utf8_slice_codeunits(t["url"], -8), "int64")),
        ):
            cols[k].append(arr.to_numpy(zero_copy_only=False)[ok])
        cols["ts"].append(_micros(t["warc_ts"])[ok])
        cols["part"].append(np.full(int(ok.sum()), i, dtype=np.int64))
    pts = {k: np.concatenate(v) for k, v in cols.items()}
    pts["tile"] = _tiles_np(pts["lon"], pts["lat"])

    order = np.argsort(pts["tile"], kind="stable")
    uniq, starts = np.unique(pts["tile"][order], return_index=True)
    ends = np.append(starts[1:], len(order))
    rows_of = {int(u): order[s:e] for u, s, e in zip(uniq, starts, ends)}

    feats = pq.read_table(os.path.join(d, "features"), columns=["feature_id", "rings"])
    hit_idx, hit_fid = [], []
    for fid, rings in zip(feats["feature_id"].to_pylist(), feats["rings"].to_pylist()):
        np_rings = [as_ring(r) for r in rings]
        cov = cover_rings(np_rings, ZOOM)
        cand = [rows_of[int(k)] for k in _pack(cov[:, 0], cov[:, 1]) if int(k) in rows_of]
        if not cand:
            continue
        cand = np.concatenate(cand)
        inside = points_in_polygon(pts["lon"][cand], pts["lat"][cand], np_rings)
        hit_idx.append(cand[inside])
        hit_fid.append(np.full(int(inside.sum()), fid, dtype=np.int64))
    hits = np.concatenate(hit_idx)
    np.savez(
        os.path.join(d, "reference.npz"),
        fid=np.concatenate(hit_fid),
        **{k: pts[k][hits] for k in ("uid", "ts", "tile", "part")},
        **{f"point_{k}": v for k, v in pts.items()},
    )


def _micros(col) -> np.ndarray:
    """Timestamp column -> int64 microseconds since the epoch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    us = pc.cast(col, pa.timestamp("us", col.type.tz), safe=False)
    return pc.cast(us, pa.int64()).to_numpy(zero_copy_only=False)


def _kept(uid: np.ndarray, seed: int) -> np.ndarray:
    """The seed's url slice: drops about 1 in DROP_MOD urls, by a hash of
    the url number and the seed."""
    mix = (uid * 2654435761 + ((seed + 1) * 97531) % 1_000_003) % 1_000_003
    return mix % DROP_MOD != 0


def _join_base(spark, data_dir: str, size: str) -> str:
    """Seed-independent ``pages(n)`` + features, with its reference; made
    once per checkout and size."""
    from robosat_spark.sources.fixtures import dense_polygon_features, features
    from robosat_spark.sources.pages import pages

    d = os.path.join(data_dir, size, "join-base")
    if _cached(d) is None:
        tmp = _fresh(d)
        shape = SIZES[size]
        pages(spark, shape["pages"]).select("url", "warc_ts", "text").repartition(
            shape["files"], "url"
        ).write.parquet(os.path.join(tmp, "pages"))
        features(spark).unionByName(dense_polygon_features(spark)).coalesce(1).write.parquet(
            os.path.join(tmp, "features")
        )
        _join_reference(tmp)
        _publish(tmp, d, {})
    return d


def prepare_join(spark, data_dir: str, seed: int, size: str) -> Inputs:
    """The base pages minus the seed's url slice, file by file (pyarrow, so
    the parquet types Spark wrote are kept), and the reference cut alike."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = os.path.join(data_dir, size, f"join-seed{seed}")
    meta = _cached(d)
    if meta:
        return Inputs(d, meta)
    base = _join_base(spark, data_dir, size)
    tmp = _fresh(d)
    os.makedirs(os.path.join(tmp, "pages"))
    for path in _parquet_files(os.path.join(base, "pages")):
        t = pq.read_table(path)
        uid = pc.cast(pc.utf8_slice_codeunits(t["url"], -8), "int64").to_numpy(
            zero_copy_only=False
        )
        pq.write_table(
            t.filter(_kept(uid, seed)),
            os.path.join(tmp, "pages", os.path.basename(path)),
            use_deprecated_int96_timestamps=True,
        )
    shutil.copytree(os.path.join(base, "features"), os.path.join(tmp, "features"))
    with np.load(os.path.join(base, "reference.npz")) as z:
        ref = {k: z[k] for k in z.files}
    hit = _kept(ref["uid"], seed)
    point = _kept(ref["point_uid"], seed)
    np.savez(
        os.path.join(tmp, "reference.npz"),
        **{k: v[point if k.startswith("point_") else hit] for k, v in ref.items()},
    )
    meta = {"joined_rows": int(hit.sum()), "files": len(_parquet_files(os.path.join(tmp, "pages")))}
    _publish(tmp, d, meta)
    return Inputs(d, meta)


def check_join_cache(inp: Inputs) -> None:
    files = _parquet_files(os.path.join(inp.dir, "pages"))
    if len(files) != inp.meta["files"] or not os.path.exists(
        os.path.join(inp.dir, "reference.npz")
    ):
        raise RuntimeError(f"input cache {inp.dir} is incomplete")


def _reference(inp: Inputs, files: int | None = None) -> dict:
    """Reference hits, restricted to the first ``files`` parquet files."""
    with np.load(os.path.join(inp.dir, "reference.npz")) as z:
        ref = {k: z[k] for k in ("uid", "ts", "tile", "fid", "part")}
    if files is None:
        return ref
    keep = ref["part"] < files
    return {k: v[keep] for k, v in ref.items()}


def _group_counts(tile, fid) -> dict:
    keys, counts = np.unique(np.stack([tile, fid]), axis=1, return_counts=True)
    return dict(zip(map(tuple, keys.T.tolist()), counts.tolist()))


def _read_join(spark, inp: Inputs, files: list[str] | None = None):
    pg = spark.read.parquet(*(files or [os.path.join(inp.dir, "pages")]))
    return pg, spark.read.parquet(os.path.join(inp.dir, "features"))


# flagship_count ------------------------------------------------------------


def _flagship(spark, inp: Inputs, tracer, files=None):
    from pyspark.sql import functions as F

    from robosat_spark.operators.spatial_join import assign_count_by_feature

    pg, ft = _read_join(spark, inp, files)
    with tracer.span("index_build"):
        counts = assign_count_by_feature(spark, pg, ft, zoom=ZOOM)
    total = counts.agg(F.sum("n_pages").alias("n"))
    n = total.collect()[0]["n"]
    return counts, total, int(n or 0)


def run_flagship(spark, inp: Inputs, tracer, scratch: str) -> Result:
    _counts, total, n = _flagship(spark, inp, tracer)
    return Result(items=n, output=n, plans=[total] if tracer.enabled else [])


# the warm-up job reads one parquet file per core, so every core's Python
# worker is started before the timed jobs
WARMUP_FILES = len(os.sched_getaffinity(0))


def warmup_flagship(spark, inp: Inputs, tracer, scratch: str) -> str | None:
    """Warm-up job on a slice, checked per (tile, feature)."""
    files = _parquet_files(os.path.join(inp.dir, "pages"))[:WARMUP_FILES]
    counts, _total, _n = _flagship(spark, inp, tracer, files)
    got = {(r["tile_id"], r["feature_id"]): r["n_pages"] for r in counts.collect()}
    ref = _reference(inp, WARMUP_FILES)
    want = _group_counts(ref["tile"], ref["fid"])
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"per-(tile, feature) counts differ, e.g. {bad}"
    return None


def check_flagship(spark, inp: Inputs, res: Result) -> str | None:
    want = inp.meta["joined_rows"]
    return None if res.output == want else f"sum(n_pages) {res.output} != {want}"


# assign_rows_checkpointed --------------------------------------------------

STAGE = "assigned"


def _rows(spark, inp: Inputs, root: str, tracer, files=None):
    from robosat_spark.operators.spatial_join import assign_salted
    from robosat_spark.plans.pipeline import Pipeline

    pg, ft = _read_join(spark, inp, files)
    with tracer.span("index_build"):
        rows = assign_salted(spark, pg, ft, zoom=ZOOM)
    with tracer.span("stage"):
        Pipeline(spark, root).stage(STAGE, lambda: rows)
    resumed = Pipeline(spark, root)
    with tracer.span("resume"):
        out = resumed.stage(STAGE, _no_recompute)
    return out


def _no_recompute():
    raise RuntimeError("resume recomputed a committed stage")


def run_rows(spark, inp: Inputs, tracer, scratch: str) -> Result:
    out = _rows(spark, inp, scratch, tracer)
    # a passing check proves the committed rows equal the reference hits
    return Result(items=inp.meta["joined_rows"], output=out)


def warmup_rows(spark, inp: Inputs, tracer, scratch: str) -> str | None:
    files = _parquet_files(os.path.join(inp.dir, "pages"))[:WARMUP_FILES]
    out = _rows(spark, inp, scratch, tracer, files)
    return _compare_rows(collect_rows(out), _reference(inp, WARMUP_FILES))


def collect_rows(out) -> dict:
    """Committed rows as NumPy columns (uid from the url, µs timestamps)."""
    from pyspark.sql import functions as F

    tbl = out.select(
        F.substring("url", -8, 8).cast("long").alias("uid"),
        F.unix_micros("warc_ts").alias("ts"),
        "tile_id",
        "feature_id",
    ).toArrow()
    return {c: tbl[c].to_numpy() for c in ("uid", "ts", "tile_id", "feature_id")}


def check_rows(spark, inp: Inputs, res: Result) -> str | None:
    return _compare_rows(collect_rows(res.output), _reference(inp))


def _compare_rows(got: dict, ref: dict) -> str | None:
    """Every committed row (url, warc_ts, feature, tile) equals a reference
    hit, so the per-(tile, feature) counts equal the ones flagship_count is
    checked against."""
    if len(got["uid"]) != len(ref["uid"]):
        return f"{len(got['uid'])} rows committed, reference has {len(ref['uid'])}"
    a = np.lexsort((got["ts"], got["feature_id"], got["uid"]))
    b = np.lexsort((ref["ts"], ref["fid"], ref["uid"]))
    for g, r in (("uid", "uid"), ("ts", "ts"), ("feature_id", "fid"), ("tile_id", "tile")):
        if not np.array_equal(got[g][a], ref[r][b]):
            return f"committed rows differ from the reference in {g}"
    return None


# --------------------------------------------------------------------------
# raster_to_vector
# --------------------------------------------------------------------------


def load_digest() -> dict:
    with open(DIGEST_PATH) as f:
        return json.load(f)


def sample_tiles(digest: dict, seed: int, tile_polygons) -> list[tuple[int, int]]:
    """One seeded tile per entry of ``tile_polygons``, among the tiles with
    that many pinned polygons and a pinned cost in the middle half of theirs.
    Dedupe time grows with the polygon count and extract time with the cost,
    so every seed asks for about the same work."""
    rng = random.Random(seed)
    picked = []
    for n in tile_polygons:
        same = sorted(
            (rec["cost_ms"], key)
            for key, rec in digest["tiles"].items()
            if len(rec["polygons"]) == n
        )
        picked.append(rng.choice(same[len(same) // 4 : 3 * len(same) // 4])[1])
    return [tuple(int(v) for v in key.split(",")) for key in sorted(picked)]


def prepare_raster(spark, data_dir: str, seed: int, size: str) -> Inputs:
    """The seed's tiles and the features covering them, as parquet."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from robosat_spark.sources.fixtures import dense_polygon_features

    d = os.path.join(data_dir, size, f"raster-seed{seed}")
    meta = _cached(d)
    if meta:
        return Inputs(d, meta)
    base = os.path.join(data_dir, "raster-base")
    if _cached(base) is None:
        tmp = _fresh(base)
        dense_polygon_features(spark).coalesce(1).write.parquet(os.path.join(tmp, "features"))
        _publish(tmp, base, {})
    digest = load_digest()
    tiles = sample_tiles(digest, seed, SIZES[size]["tile_polygons"])
    fids = sorted({f for x, y in tiles for f in digest["tiles"][f"{x},{y}"]["features"]})
    tmp = _fresh(d)
    for sub in ("tiles", "features"):
        os.makedirs(os.path.join(tmp, sub))
    pq.write_table(
        pa.table({
            "x": pa.array([x for x, _ in tiles], pa.int64()),
            "y": pa.array([y for _, y in tiles], pa.int64()),
            "z": pa.array([ZOOM] * len(tiles), pa.int32()),
        }),
        os.path.join(tmp, "tiles", "tiles.parquet"),
    )
    feats = pq.read_table(os.path.join(base, "features"))
    pq.write_table(
        feats.filter(pc.is_in(feats["feature_id"], pa.array(fids, pa.int64()))),
        os.path.join(tmp, "features", "features.parquet"),
    )
    meta = {"tiles": [list(t) for t in tiles], "features": fids}
    _publish(tmp, d, meta)
    return Inputs(d, meta)


def check_raster_cache(inp: Inputs) -> None:
    for sub in ("tiles", "features"):
        if not _parquet_files(os.path.join(inp.dir, sub)):
            raise RuntimeError(f"input cache {inp.dir} is incomplete")


def pred_id(x, y, local_id):
    """Predicted-feature id that maps a dedupe verdict back to its tile."""
    return (x * (1 << 18) + y) * 256 + local_id


def vectorize(spark, tiles_df, feats, tracer):
    """cover-backed rasterize -> predict -> extract, every stage
    materialised on its own; -> (frames, predicted masks, features). The
    un-checkpointed frames keep the executed plans and their SQLMetrics."""
    from robosat_spark.operators.features import extract_features
    from robosat_spark.operators.rasterize import (
        probs_to_masks,
        rasterize_masks,
        synthesize_probs,
    )

    frames = []
    with tracer.span("burn"):
        frames.append(rasterize_masks(spark, tiles_df, feats, ZOOM, size=RASTER_SIZE))
        masks = frames[-1].localCheckpoint()
    with tracer.span("predict"):
        frames.append(probs_to_masks(synthesize_probs(masks)))
        pred_masks = frames[-1].localCheckpoint()
    with tracer.span("extract"):
        frames.append(extract_features(pred_masks))
        extracted = frames[-1].localCheckpoint()
    return frames, pred_masks, extracted


def dedupe_verdicts(spark, extracted, feats, tracer, frames: list):
    """Predicted polygons deduped against the source polygons, collected."""
    from pyspark.sql import functions as F

    from robosat_spark.operators.dedupe import dedupe

    with tracer.span("dedupe"):
        predicted = extracted.select(
            pred_id(F.col("x"), F.col("y"), F.col("local_id")).alias("feature_id"), "rings"
        )
        frames.append(dedupe(spark, predicted, feats))
        return frames[-1].collect()


def raster_chain(spark, tiles_df, feats, tracer):
    """-> (frames, predicted masks, features, dedupe verdict rows)."""
    frames, pred_masks, extracted = vectorize(spark, tiles_df, feats, tracer)
    verdicts = dedupe_verdicts(spark, extracted, feats, tracer, frames)
    return frames, pred_masks, extracted, verdicts


def _read_raster(spark, inp: Inputs):
    return (
        spark.read.parquet(os.path.join(inp.dir, "tiles")),
        spark.read.parquet(os.path.join(inp.dir, "features")),
    )


def run_raster(spark, inp: Inputs, tracer, scratch: str) -> Result:
    tiles_df, feats = _read_raster(spark, inp)
    frames, pred_masks, extracted, verdicts = raster_chain(spark, tiles_df, feats, tracer)
    return Result(
        items=len(inp.meta["tiles"]),
        output=(extracted, verdicts, pred_masks),
        plans=frames if tracer.enabled else [],
    )


def warmup_raster(spark, inp: Inputs, tracer, scratch: str) -> str | None:
    """Warm-up job on the first tile, checked against its pinned digest."""
    from pyspark.sql import functions as F

    tiles_df, feats = _read_raster(spark, inp)
    x, y = inp.meta["tiles"][0]
    one = tiles_df.filter((F.col("x") == x) & (F.col("y") == y))
    _frames, _masks, extracted, verdicts = raster_chain(spark, one, feats, tracer)
    return _compare_digests([(x, y)], extracted, verdicts)


def tile_digests(extracted, verdicts) -> dict:
    """{"x,y": [[area_m2, iou, keep] per polygon, by local_id]}."""
    verdict = {r["pred_id"]: (r["iou"], r["keep"]) for r in verdicts}
    out: dict[str, list] = {}
    rows = extracted.select("x", "y", "local_id", "area_m2").collect()
    for r in sorted(rows, key=lambda r: (r["x"], r["y"], r["local_id"])):
        iou, keep = verdict[pred_id(r["x"], r["y"], r["local_id"])]
        out.setdefault(f"{r['x']},{r['y']}", []).append([r["area_m2"], iou, keep])
    return out


def check_raster(spark, inp: Inputs, res: Result) -> str | None:
    extracted, verdicts, _masks = res.output
    return _compare_digests(inp.meta["tiles"], extracted, verdicts)


def _compare_digests(tiles, extracted, verdicts) -> str | None:
    """Per-tile polygon count, area and dedupe verdict against the pinned
    digest (areas to 1e-6 relative, IoU to 1e-6)."""
    pinned = load_digest()["tiles"]
    got = tile_digests(extracted, verdicts)
    for x, y in tiles:
        key = f"{x},{y}"
        want, have = pinned[key]["polygons"], got.get(key, [])
        if len(want) != len(have):
            return f"tile {key}: {len(have)} polygons, pinned {len(want)}"
        for (wa, wi, wk), (ha, hi, hk) in zip(want, have):
            if abs(wa - ha) > 1e-6 * max(1.0, abs(wa)) or abs(wi - hi) > 1e-6 or wk != hk:
                return f"tile {key}: polygon ({ha}, {hi}, {hk}) != pinned ({wa}, {wi}, {wk})"
    return None


# --------------------------------------------------------------------------
# per-layer values of one traced job, and the once-per-run layer probes
# --------------------------------------------------------------------------


def _join_layers(plans, joined_rows: int, tracer) -> dict:
    scan, geotag = scan_side(plans)
    prefilter = metric_sum(plans, "BroadcastHashJoin", "numOutputRows")
    return {
        "sources.scan_rows": scan,
        "functions.tiles.geotag_rows": geotag,
        "operators.spatial_join.index_build_s": tracer.seconds("index_build"),
        "operators.spatial_join.prefilter_rows": prefilter,
        "operators.spatial_join.refine_bytes_in": metric_sum(plans, "MapInArrow", "pythonDataSent"),
        "operators.spatial_join.refine_python_s": metric_sum(plans, "MapInArrow", "pythonTotalTime") / 1e3,
        "operators.spatial_join.refine_init_s": metric_sum(plans, "MapInArrow", "pythonInitTime") / 1e3,
        "operators.spatial_join.hit_ratio": joined_rows / prefilter if prefilter else 0.0,
        "exchange.shuffle_bytes": metric_sum(plans, "Exchange", "shuffleBytesWritten"),
    }


def layers_flagship(spark, inp: Inputs, res: Result, tracer, scratch: str, logged) -> dict:
    return _join_layers([executed_plan(df) for df in res.plans], res.items, tracer)


def layers_rows(spark, inp: Inputs, res: Result, tracer, scratch: str, logged) -> dict:
    """The write runs inside ``Pipeline.stage`` under its own
    QueryExecution, so its plan comes from Spark's SQL status store."""
    from robosat_spark.plans.pipeline import stage_metrics

    writes = [p for p in logged if any(n[0] == "MapInArrow" for n in iter_nodes(p))]
    out = _join_layers(writes, res.items, tracer)
    per_part = sorted(r["rows"] for r in stage_metrics(spark, scratch, STAGE).collect())
    stage_dir = os.path.join(scratch, STAGE)
    out.update(
        {
            "plans.pipeline.stage_s": tracer.seconds("stage"),
            "plans.pipeline.resume_s": tracer.seconds("resume"),
            "plans.pipeline.bytes_written": sum(
                os.path.getsize(os.path.join(stage_dir, f)) for f in os.listdir(stage_dir)
            ),
            "plans.pipeline.partition_skew": per_part[-1] / max(1, float(np.median(per_part))),
        }
    )
    return out


def layers_raster(spark, inp: Inputs, res: Result, tracer, scratch: str, logged) -> dict:
    extracted, verdicts, _masks = res.output
    return {
        "operators.rasterize.burn_s": tracer.seconds("burn"),
        "operators.rasterize.predict_s": tracer.seconds("predict"),
        "operators.features.extract_s": tracer.seconds("extract"),
        "operators.features.polygons": extracted.count(),
        "operators.dedupe.s": tracer.seconds("dedupe"),
        "operators.dedupe.candidate_pairs": sum(r["n_candidates"] for r in verdicts),
        "exchange.shuffle_bytes": metric_sum(
            [executed_plan(df) for df in res.plans], "Exchange", "shuffleBytesWritten"
        ),
    }


def probes_join(spark, inp: Inputs, res: Result) -> dict:
    """Scan + geotag alone to a noop sink, and the public PIP kernel on a
    fixed tenth of the features against the seed's own points."""
    import pyarrow.parquet as pq

    from robosat_spark.kernels.geometry import as_ring, points_in_polygon
    from robosat_spark.kernels.raster import cover_rings
    from robosat_spark.operators.spatial_join import geotagged_points

    t0 = time.perf_counter()
    pts = geotagged_points(spark.read.parquet(os.path.join(inp.dir, "pages")), ZOOM)
    pts.write.format("noop").mode("overwrite").save()
    geotag_s = time.perf_counter() - t0

    with np.load(os.path.join(inp.dir, "reference.npz")) as z:
        lon, lat, tile = z["point_lon"], z["point_lat"], z["point_tile"]
    feats = pq.read_table(os.path.join(inp.dir, "features"), columns=["rings"])
    pairs, busy = 0, 0.0
    for rings in feats["rings"].to_pylist()[::10]:
        np_rings = [as_ring(r) for r in rings]
        cov = cover_rings(np_rings, ZOOM)
        cand = np.nonzero(np.isin(tile, _pack(cov[:, 0], cov[:, 1])))[0]
        if not cand.size:
            continue
        px, py = lon[cand], lat[cand]
        t0 = time.perf_counter()
        points_in_polygon(px, py, np_rings)
        busy += time.perf_counter() - t0
        pairs += cand.size
    return {
        "functions.tiles.geotag_s": geotag_s,
        "kernels.geometry.pip_ns_per_pair": busy * 1e9 / max(1, pairs),
    }


def probes_raster(spark, inp: Inputs, res: Result) -> dict:
    """The cover operator alone on the workload's features, and the public
    contour kernel on the job's own predicted masks."""
    from robosat_spark.kernels import raster as R
    from robosat_spark.operators.cover import cover

    t0 = time.perf_counter()
    cover(spark.read.parquet(os.path.join(inp.dir, "features")), ZOOM).count()
    cover_s = time.perf_counter() - t0

    _extracted, _verdicts, pred_masks = res.output
    busy, tiles = 0.0, 0
    for r in pred_masks.select("w", "h", "data").collect():
        mask = np.frombuffer(r["data"], dtype=np.uint8).reshape(r["h"], r["w"])
        cleaned = R.morph_close(R.morph_open(mask, 20), 20)
        t0 = time.perf_counter()
        R.find_contours(cleaned)
        busy += time.perf_counter() - t0
        tiles += 1
    return {
        "operators.cover.s": cover_s,
        "kernels.raster.contours_ms_per_tile": busy * 1e3 / max(1, tiles),
    }


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    prepare: object
    check_cache: object
    warmup: object
    run: object
    check: object
    layers: object
    probes: object


WORKLOADS = {
    w.name: w
    for w in (
        Workload("flagship_count", prepare_join, check_join_cache, warmup_flagship,
                 run_flagship, check_flagship, layers_flagship, probes_join),
        Workload("assign_rows_checkpointed", prepare_join, check_join_cache, warmup_rows,
                 run_rows, check_rows, layers_rows, probes_join),
        Workload("raster_to_vector", prepare_raster, check_raster_cache, warmup_raster,
                 run_raster, check_raster, layers_raster, probes_raster),
    )
}
