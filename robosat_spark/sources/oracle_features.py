"""Fixed rectangle features for oracle-checkable spatial queries.

Bounds sit off the 1/1000-degree lattice of the events-derived points
(4th decimal = 5), so no point ever lands exactly on an edge and the
SQL bbox oracle agrees with the crossing-number PIP kernel regardless of
boundary convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .fixtures import _feature_frame, _rect

# (feature_id, x0, y0, x1, y1) over the derived-point domain
# lon in [-180, 180), lat in [-80, 80)
ORACLE_RECTS = [
    (0, 10.0005, 0.0005, 40.0005, 20.0005),
    (1, -120.0005, -50.0005, -80.0005, -20.0005),
    (2, 100.0005, 30.0005, 160.0005, 70.0005),
]


def oracle_rect_features(spark: SparkSession) -> DataFrame:
    rows = []
    for fid, x0, y0, x1, y1 in ORACLE_RECTS:
        ring = _rect(x0, y0, x1 - x0, y1 - y0)
        rows.append(
            (fid, "Polygon", fid, [ring], (x0, y0, x1, y1), {"src": "oracle-rect"})
        )
    return _feature_frame(spark, rows)


def rect_centroids_vertexmean():
    """Vertex-mean centroid of each closed rect ring, computed with the
    exact left-fold order of ``operators.knn.feature_centroids`` so the
    embedded SQL literals are bit-identical to the Spark result."""
    out = []
    for fid, x0, y0, x1, y1 in ORACLE_RECTS:
        ring = _rect(x0, y0, x1 - x0, y1 - y0)
        cx = 0.0
        cy = 0.0
        for px, py in ring:
            cx = cx + px
            cy = cy + py
        out.append((fid, cx / len(ring), cy / len(ring)))
    return out
