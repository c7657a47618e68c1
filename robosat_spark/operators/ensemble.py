"""Ensemble soft-voting (P2/J5/G21) and segmentation metrics (A4).

- ``soft_vote``: the reference zips n probability tilesets positionally and
  asserts alignment (/root/reference/robosat/tools/masks.py:28-69,
  /root/reference/robosat/datasets.py:44-78); the engine replaces the
  positional zip with an n-way inner equi-join on the tile key (same result
  given the reference's own sync asserts, robust to ordering), then
  unquantize -> weighted average -> argmax per pixel (masks.py:72-84).

- ``confusion_counts`` / ``segmentation_metrics``: the per-pixel
  tn/fn/fp/tp division trick and mIoU/fgIoU/MCC readouts
  (/root/reference/robosat/metrics.py:27-84) as one Arrow pass over joined
  (predicted, truth) tiles + a global sum + column-expression formulas —
  the canonical partial+final aggregation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rasterize import MASK_SCHEMA, decode_masks, encode_masks, unquantize_probs


def soft_vote(prob_dfs: list[DataFrame], weights: list[float] | None = None) -> DataFrame:
    """n probability tilesets (z,x,y,w,h,data uint8-quantized fg prob) ->
    argmax masks. J5 n-way join + G21 weighted soft vote."""
    if weights is None:
        weights = [1.0] * len(prob_dfs)
    assert len(weights) == len(prob_dfs) and prob_dfs

    joined = prob_dfs[0].select(
        "z", "x", "y", "w", "h", F.col("data").alias("data_0")
    )
    for i, df in enumerate(prob_dfs[1:], start=1):
        joined = joined.join(
            df.select("z", "x", "y", F.col("data").alias(f"data_{i}")),
            ["z", "x", "y"],
        )
    n = len(prob_dfs)
    wts = np.asarray(weights, dtype=np.float64)

    def vote(batches):
        for batch in batches:
            masks = []
            for models in zip(*(decode_masks(batch, f"data_{i}") for i in range(n))):
                z, x, y, _ = models[0]
                stacks = [unquantize_probs(q) for *_, q in models]  # (2, h, w) each
                avg = np.average(np.stack(stacks), axis=0, weights=wts)
                masks.append((z, x, y, np.argmax(avg, axis=0)))
            yield encode_masks(masks)

    return joined.mapInArrow(vote, MASK_SCHEMA)


def compare_composites(
    labels: DataFrame,
    mask_sets: list[DataFrame],
    minimum: float = 0.0,
    maximum: float = 1.0,
) -> DataFrame:
    """-> masks(z, x, y, w, h, data): the reference `rs compare` composite
    (/root/reference/robosat/tools/compare.py:56-67 — per tile, columns
    horizontally concatenated into one image; :68 keep rule: a tile
    survives when ANY mask's foreground share lies in [minimum, maximum]).
    Columns here are [label, mask...] — the reference's leading aerial
    -imagery column has no source in this engine's data model (masks and
    labels only), a documented delta. Fully distributed: equi-join on
    (z, x, y) then an Arrow-batched hstack kernel; write the result with
    ``write_slippy_pngs`` for the reference's z/x/y.png layout."""
    j = labels.select(
        "z", "x", "y", "w", "h", F.col("data").alias("d0")
    )
    for i, m in enumerate(mask_sets):
        j = j.join(
            m.select(
                "z", "x", "y", F.col("w").alias(f"w{i + 1}"),
                F.col("h").alias(f"h{i + 1}"), F.col("data").alias(f"d{i + 1}"),
            ),
            ["z", "x", "y"],
        )
    n = len(mask_sets)

    def gen(batches):
        for batch in batches:
            sets = [decode_masks(batch, f"d{i}", f"w{i}", f"h{i}") for i in range(1, n + 1)]
            out = []
            for (z, x, y, label), *masks in zip(decode_masks(batch, "d0"), *sets):
                grids = [g for *_, g in masks]
                # the reference asserts image.size == mask.size per tile
                # (compare.py:34,41); a transposed mask has the same byte
                # count and would be a silently garbled strip
                for i, g in enumerate(grids):
                    if g.shape != label.shape:
                        raise ValueError(
                            f"mask set {i} tile z={z}/{x}/{y} is {g.shape[1]}x{g.shape[0]}, "
                            f"label is {label.shape[1]}x{label.shape[0]}"
                        )
                if any(minimum <= np.count_nonzero(g) / g.size <= maximum for g in grids):
                    out.append((z, x, y, np.hstack([label, *grids])))
            yield encode_masks(out)

    return j.mapInArrow(gen, MASK_SCHEMA)


def confusion_counts(predicted: DataFrame, truth: DataFrame) -> DataFrame:
    """-> one row (tn, fn, fp, tp): global binary confusion counters.

    Same classification as the reference's division trick
    (pred/actual: nan->tn, inf->fn, 0->fp, 1->tp) expressed directly:
    tn = both zero, fn = actual 1 pred 0, fp = pred 1 actual 0, tp = both 1.
    """
    joined = predicted.select(
        "z", "x", "y", "w", "h", F.col("data").alias("pred")
    ).join(truth.select("z", "x", "y", F.col("data").alias("actual")), ["z", "x", "y"])

    def count(batches):
        for batch in batches:
            tn = fn = fp = tp = 0
            # a tile's truth shares its prediction's (w, h)
            for (*_, pg), (*_, ag) in zip(decode_masks(batch, "pred"), decode_masks(batch, "actual")):
                p, a = pg > 0, ag > 0
                tp += int(np.count_nonzero(p & a))
                tn += int(np.count_nonzero(~p & ~a))
                fp += int(np.count_nonzero(p & ~a))
                fn += int(np.count_nonzero(~p & a))
            yield pa.RecordBatch.from_arrays(
                [pa.array([v], pa.int64()) for v in (tn, fn, fp, tp)], names=["tn", "fn", "fp", "tp"]
            )

    partial = joined.mapInArrow(count, "tn LONG, fn LONG, fp LONG, tp LONG")
    return partial.agg(
        F.sum("tn").alias("tn"), F.sum("fn").alias("fn"),
        F.sum("fp").alias("fp"), F.sum("tp").alias("tp"),
    )


def segmentation_metrics(counts: DataFrame) -> DataFrame:
    """counts(tn,fn,fp,tp) -> + miou, fg_iou, mcc (metrics.py:43-84)."""
    tn, fn, fp, tp = (F.col(c).cast("double") for c in ("tn", "fn", "fp", "tp"))
    bg_iou = tn / (tn + fn + fp)
    fg_iou = tp / (tp + fn + fp)
    mcc = (tp * tn - fp * fn) / F.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    return counts.select(
        "tn", "fn", "fp", "tp",
        F.round((bg_iou + fg_iou) / 2.0, 6).alias("miou"),
        F.round(fg_iou, 6).alias("fg_iou"),
        F.round(mcc, 6).alias("mcc"),
    )
