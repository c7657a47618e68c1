"""Sinks (K1-K5): CSV tiles, GeoJSON features, slippy-map grids.

The reference writes one file per tool run; the engine writes partitioned
datasets (one file per task IS the reference's FeatureStorage batching,
/root/reference/robosat/osm/core.py:7-41) plus small driver-side collectors
for golden-file parity with the reference's single-file outputs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tiles_csv(tiles: DataFrame, path: str) -> None:
    """K1: (x, y, z) rows -> CSV dataset (cover.py:35-37)."""
    tiles.select("x", "y", "z").write.mode("overwrite").csv(path)


def feature_json_col(rings=None, props=None):
    """Column expression rendering one feature row as a GeoJSON Feature
    string (JVM ``to_json``), for distributed JSONL feature sinks."""
    rings = F.col("rings") if rings is None else rings
    props = F.col("props") if props is None else props
    return F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Polygon").alias("type"), rings.alias("coordinates")
            ).alias("geometry"),
            props.alias("properties"),
        )
    )


def write_features_jsonl(features: DataFrame, path: str) -> None:
    """K2: distributed GeoJSON-feature JSONL sink — one file per partition
    is the batched FeatureStorage; task-attempt naming is the uuid suffix."""
    features.select(feature_json_col().alias("value")).write.mode("overwrite").text(path)


def collect_feature_collection(features: DataFrame, order_by=("feature_id",)) -> dict:
    """K3: driver-side single FeatureCollection (merge.py:86-89 parity) —
    deterministic order for golden-file comparison."""
    rows = features.orderBy(*order_by).select(feature_json_col().alias("j")).collect()
    return {
        "type": "FeatureCollection",
        "features": [json.loads(r["j"]) for r in rows],
    }


def save_feature_collection(features: DataFrame, path: str, order_by=("feature_id",)) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(collect_feature_collection(features, order_by), f)


def write_slippy_grids(masks: DataFrame, root: str) -> None:
    """K4 (engine-native layout): parquet partitioned by (z, x) — the same
    z/x/ directory convention as slippy PNGs, binary grid payloads,
    column-pruned reads for free. For byte-level reference parity use
    :func:`write_slippy_pngs`."""
    masks.write.mode("overwrite").partitionBy("z", "x").parquet(root)


def write_slippy_pngs(masks: DataFrame, root: str, palette: list[int] | None = None) -> None:
    """K4 (reference-parity layout): z/x/y.png files, palette-indexed like
    the reference's mask writer (/root/reference/robosat/tools/rasterize.py:126-140
    — PIL P-mode with a class palette). Encoding is the from-scratch stdlib
    zlib codec (kernels.png) inside a ``mapInArrow`` pass that reads grids
    through the mask codec — one task writes its own tiles, no driver
    collection. ``root`` must be a path visible to
    executors (local/NFS/fuse mount). Overwrite semantics like the other
    sinks, but STAGED like the parquet writers: the job writes into a
    fresh staging directory and the swap to ``root`` happens only after
    the job succeeds (a mid-job failure leaves the previous output
    untouched, and read-from-root-then-rewrite-to-root keeps working);
    stale tiles from a previous, larger cover can't survive because the
    whole root is replaced. Files land via tmp-name (pid+uuid suffix) +
    os.replace so speculative task retries never expose partial PNGs."""
    import shutil
    import uuid

    import pyarrow as pa

    staging = f"{root.rstrip(os.sep)}.staging-{uuid.uuid4().hex[:12]}"
    cols = masks.select("z", "x", "y", "w", "h", "data")

    def sink(batches):
        from ..kernels.png import encode_png
        from ..operators.rasterize import decode_masks

        for batch in batches:
            for z, x, y, grid in decode_masks(batch):
                d = os.path.join(staging, str(z), str(x))
                os.makedirs(d, exist_ok=True)
                final = os.path.join(d, f"{y}.png")
                tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
                with open(tmp, "wb") as f:
                    f.write(encode_png(grid, palette=palette))
                os.replace(tmp, final)
            yield pa.RecordBatch.from_arrays([pa.array([batch.num_rows], pa.int64())], names=["n"])

    try:
        cols.mapInArrow(sink, "n LONG").collect()
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    os.makedirs(staging, exist_ok=True)  # zero-row job still produces a root
    old = None
    if os.path.isdir(root):
        old = f"{root.rstrip(os.sep)}.old-{uuid.uuid4().hex[:12]}"
        os.replace(root, old)
    os.replace(staging, root)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)


def throttled_idempotent_sink(
    df: DataFrame,
    write_one,
    key_cols: list[str],
    exists,
    rate_per_sec: float = 10.0,
) -> None:
    """S3 pattern: the reference's rate-limited download worker with
    skip-if-exists resume (/root/reference/robosat/tiles.py:45-62,
    /root/reference/robosat/tools/download.py:38-78) as a
    ``foreachPartition`` sink — per-partition token-bucket throttle (the
    global rate is rate_per_sec * partitions; repartition to control it),
    and each key is skipped when ``exists(key)`` — rerun-safe.

    ``write_one(row)`` performs the external write; ``exists(key_tuple)``
    checks idempotency. No network is used in this repo — tests drive it
    with local-filesystem callables."""
    import time as _time

    def sink(rows):
        interval = 1.0 / rate_per_sec if rate_per_sec > 0 else 0.0
        next_ok = _time.monotonic()
        for row in rows:
            key = tuple(row[c] for c in key_cols)
            if exists(key):
                continue  # skip-if-exists (download.py:48-49)
            now = _time.monotonic()
            if now < next_ok:
                _time.sleep(next_ok - now)
            next_ok = max(next_ok, now) + interval
            write_one(row)

    df.foreachPartition(sink)


def download_tiles(
    tiles: DataFrame,
    url_template: str,
    out_root: str,
    rate_per_sec: float = 10.0,
    ext: str = "png",
) -> None:
    """The `rs download` tool (/root/reference/robosat/tools/download.py:
    38-78): fetch each (z, x, y) tile from a ``{z}/{x}/{y}`` template into
    the slippy directory layout, rate-limited, skipping tiles that already
    exist (rerun-safe resume). Distributed via
    :func:`throttled_idempotent_sink` — each partition runs its own token
    bucket, so the global rate is rate_per_sec x partitions (repartition
    to bound it, exactly like sizing the reference's num_workers).

    ``http(s)://`` templates fetch with urllib; ``file://`` or plain-path
    templates read the local filesystem (the sandbox has no network — the
    tests exercise the full path with a local template). Writes are
    tmp-then-rename so an interrupted fetch never leaves a partial tile."""
    import uuid

    def write_one(row):
        import urllib.request

        z, x, y = int(row["z"]), int(row["x"]), int(row["y"])
        src = url_template.format(z=z, x=x, y=y)
        if src.startswith(("http://", "https://")):
            with urllib.request.urlopen(src, timeout=30) as resp:
                data = resp.read()
        else:
            if src.startswith("file://"):
                src = src[len("file://"):]
            with open(src, "rb") as f:
                data = f.read()
        d = os.path.join(out_root, str(z), str(x))
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"{y}.{ext}")
        tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, final)

    def exists(key):
        z, x, y = key
        return os.path.exists(os.path.join(out_root, str(z), str(x), f"{y}.{ext}"))

    throttled_idempotent_sink(
        tiles.select("z", "x", "y"), write_one, ["z", "x", "y"], exists, rate_per_sec
    )
