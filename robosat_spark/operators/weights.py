"""Class-frequency weights over masks (`rs weights`, A2/A3).

Reference (/root/reference/robosat/tools/weights.py:37-59): per-image
``np.bincount`` summed globally, then w = 1 / ln(1.02 + p) per class.

Spark shape: the canonical partial+final aggregation — per-tile bincount in
an Arrow pass (the partial), ``posexplode`` + groupBy(class).sum (the
final, JVM hash agg), weight formula as a column expression.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rasterize import decode_masks


def class_histogram(masks: DataFrame, num_classes: int = 2) -> DataFrame:
    """-> (class INT, n LONG): global pixel counts per class index."""

    def gen(batches):
        for batch in batches:
            agg = np.zeros(num_classes, dtype=np.int64)
            for *_, grid in decode_masks(batch):
                agg += np.bincount(
                    np.clip(grid.ravel(), 0, num_classes - 1), minlength=num_classes
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array([agg.tolist()], pa.list_(pa.int64()))], names=["counts"]
            )

    partial = masks.mapInArrow(gen, "counts ARRAY<LONG>")
    return (
        partial.select(F.posexplode("counts").alias("class", "n"))
        .groupBy("class")
        .agg(F.sum("n").alias("n"))
    )


def class_weights(hist: DataFrame) -> DataFrame:
    """-> (class, n, p, weight): w = 1/ln(1.02 + p), parity with
    weights.py:49-59 (p = class share of total pixels)."""
    total = F.sum("n").over(Window.partitionBy())
    return hist.select(
        "class",
        "n",
        (F.col("n") / total).alias("p"),
    ).select(
        "class", "n", F.round("p", 9).alias("p"),
        F.round(F.lit(1.0) / F.log(F.lit(1.02) + F.col("p")), 6).alias("weight"),
    )
