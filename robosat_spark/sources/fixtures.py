"""Deterministic ``features`` / ``tiles`` fixture tables (FIXTURES.md §2-3).

Seed rows are the two parking polygons from the reference's own fixture
(/root/reference/tests/fixtures/parking/features.geojson — coordinates
embedded below as data for parity, exactly 2 features asserted at
/root/reference/tests/tools/test_rasterize.py:16), plus generated
rectangles / L-shapes / ring-with-hole polygons tiled across the bbox, a
cluster of near-adjacent rectangles (for merge), and overlapping pairs at
known IoU values (for dedupe thresholds).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Reference parking fixture geometry (data, not code):
# /root/reference/tests/fixtures/parking/features.geojson
PARKING_0 = [
    [-82.8224934, 34.6787452], [-82.8216356, 34.6787385], [-82.8215841, 34.6778632],
    [-82.8218244, 34.6775386], [-82.8220047, 34.6773692], [-82.8234209, 34.6773974],
    [-82.8234818, 34.6774475], [-82.8235839, 34.6775315], [-82.8236513, 34.6781899],
    [-82.8230346, 34.6784279], [-82.8226999, 34.6785903], [-82.8224934, 34.6787452],
]
PARKING_1 = [
    [-106.5503557, 35.1168049], [-106.5503088, 35.1167621], [-106.5501478, 35.1167522],
    [-106.5500325, 35.1167511], [-106.5500271, 35.1168959], [-106.5500285, 35.1170813],
    [-106.5500244, 35.1171098], [-106.5499386, 35.117112], [-106.5499476, 35.117322],
    [-106.5500982, 35.1173248], [-106.5502135, 35.1174938], [-106.5502377, 35.1175256],
    [-106.5502699, 35.117541], [-106.5504858, 35.1175453], [-106.5506865, 35.117536],
    [-106.5506741, 35.1172861], [-106.5506729, 35.1171422], [-106.550573, 35.1171366],
    [-106.5505423, 35.1170818], [-106.5505412, 35.1170446], [-106.5502641, 35.1170428],
    [-106.55023, 35.1169657], [-106.5502289, 35.1168654], [-106.5503061, 35.1168412],
    [-106.5503557, 35.1168049],
]

# Golden tiles from the reference fixtures (FIXTURES.md §3)
TILES_CSV = [(69623, 104945, 18), (69622, 104945, 18), (69623, 104946, 18)]
PARKING_TILES_CSV = [(70762, 104119, 18), (69623, 104946, 18), (70763, 104119, 18), (70761, 104120, 18)]

FEATURE_SCHEMA = StructType(
    [
        StructField("feature_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("geom_id", LongType(), False),
        StructField("rings", ArrayType(ArrayType(ArrayType(DoubleType()))), False),
        StructField(
            "bbox",
            StructType(
                [
                    StructField("minx", DoubleType(), False),
                    StructField("miny", DoubleType(), False),
                    StructField("maxx", DoubleType(), False),
                    StructField("maxy", DoubleType(), False),
                ]
            ),
            False,
        ),
        StructField("props", MapType(StringType(), StringType()), False),
    ]
)


def _feature_frame(spark: SparkSession, rows) -> DataFrame:
    """``FEATURE_SCHEMA`` row tuples -> DataFrame. Built from a
    ``pyarrow.Table`` so it plans a ``LocalTableScan``; a list of tuples
    plans ``Scan ExistingRDD``, a pickled Python RDD that every job over
    the table reads back through a Python worker."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(FEATURE_SCHEMA)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    return spark.createDataFrame(table, FEATURE_SCHEMA)


def _rect(lon0, lat0, w, h):
    return [[lon0, lat0], [lon0 + w, lat0], [lon0 + w, lat0 + h], [lon0, lat0 + h], [lon0, lat0]]


def _lshape(lon0, lat0, s):
    return [
        [lon0, lat0], [lon0 + 2 * s, lat0], [lon0 + 2 * s, lat0 + s], [lon0 + s, lat0 + s],
        [lon0 + s, lat0 + 2 * s], [lon0, lat0 + 2 * s], [lon0, lat0],
    ]


def build_feature_rows():
    """Python list of feature rows (driver-side; the table is tiny — the
    big side is always ``pages``)."""
    rows = []
    fid = 0

    def add(rings, kind="Polygon", geom_id=None, props=None):
        nonlocal fid
        arr = np.asarray(rings[0])
        bbox = (
            float(arr[:, 0].min()), float(arr[:, 1].min()),
            float(arr[:, 0].max()), float(arr[:, 1].max()),
        )
        rows.append(
            (fid, kind, geom_id if geom_id is not None else fid,
             [[list(map(float, p)) for p in r] for r in rings],
             bbox, props or {})
        )
        fid += 1

    add([PARKING_0], props={"src": "reference-parking-0"})
    add([PARKING_1], props={"src": "reference-parking-1"})

    # grid of rectangles across the bbox (spacing > merge threshold)
    for gy in range(4):
        for gx in range(6):
            lon0 = -82.839 + gx * 0.006
            lat0 = 34.661 + gy * 0.007
            add([_rect(lon0, lat0, 0.002, 0.002)], props={"src": "grid"})

    # L-shapes
    for k in range(4):
        add([_lshape(-82.836 + k * 0.008, 34.686, 0.0012)], props={"src": "lshape"})

    # polygon with one hole
    outer = _rect(-82.828, 34.664, 0.004, 0.004)
    hole = _rect(-82.827, 34.665, 0.002, 0.002)
    add([outer, hole], props={"src": "holed"})

    # near-adjacent cluster: 3 rectangles < 25 m apart (merge should join)
    base_lon, base_lat = -82.812, 34.682
    gap = 0.0001  # ~9 m in lon at this latitude
    for k in range(3):
        add([_rect(base_lon + k * (0.001 + gap), base_lat, 0.001, 0.001)],
            props={"src": "merge-cluster"})

    # overlapping pairs at known IoU {0.0, ~0.3, ~0.55, ~0.9} (dedupe goldens;
    # 0.55 not 0.5 so the threshold-0.5 verdict is not knife-edge on raster
    # sampling error). For two squares overlapping by fraction t: IoU = t/(2-t)
    # t: 0.0 -> 0.0, 6/13 -> 0.3, 22/31 -> 0.55, 18/19 -> 0.9
    w = 0.002
    for idx, t in enumerate([0.0, 6.0 / 13.0, 22.0 / 31.0, 18.0 / 19.0]):
        lon0 = -82.806 + idx * 0.006
        lat0 = 34.666
        add([_rect(lon0, lat0, w, w)], props={"src": f"ioupair-{idx}-a"})
        add([_rect(lon0 + w * (1.0 - t), lat0, w, w)], props={"src": f"ioupair-{idx}-b"})

    return rows


def features(spark: SparkSession) -> DataFrame:
    return _feature_frame(spark, build_feature_rows())


def dense_polygon_features(
    spark: SparkSession,
    n: int = 400,
    vertices: int = 128,
    grid: int = 20,
    radius: float = 0.0011,
) -> DataFrame:
    """Deterministic dense-vertex polygons (circle approximations) tiling
    the parking bbox — the realistic big-join feature side: building/road
    polygons at web scale have hundreds of vertices, so the PIP refine is
    compute-dense (O(vertices) per candidate), unlike the 5-point oracle
    rects. Used by the scaling benchmark."""
    return _feature_frame(spark, dense_polygon_rows(n, vertices, grid, radius))


def dense_polygon_rows(
    n: int = 400, vertices: int = 128, grid: int = 20, radius: float = 0.0011
) -> list:
    """``FEATURE_SCHEMA`` row tuples of :func:`dense_polygon_features`."""
    rows = []
    lon_span = (LON1_B := -82.80) - (LON0_B := -82.84)
    lat_span = (LAT1_B := 34.69) - (LAT0_B := 34.66)
    ang = np.linspace(0.0, 2.0 * np.pi, vertices, endpoint=False)
    for k in range(n):
        gx, gy = k % grid, (k // grid) % grid
        cx = LON0_B + (gx + 0.5) / grid * lon_span
        cy = LAT0_B + (gy + 0.5) / grid * lat_span
        r = radius * (0.6 + 0.4 * ((k * 2654435761) % 1000) / 1000.0)
        ring = np.column_stack([cx + r * np.cos(ang), cy + 0.75 * r * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        bbox = (
            float(ring[:, 0].min()), float(ring[:, 1].min()),
            float(ring[:, 0].max()), float(ring[:, 1].max()),
        )
        rows.append(
            (1000 + k, "Polygon", 1000 + k, [[list(map(float, p)) for p in ring]],
             bbox, {"src": "dense"})
        )
    return rows


def tiles(spark: SparkSession, which: str = "parking") -> DataFrame:
    rows = PARKING_TILES_CSV if which == "parking" else TILES_CSV
    cols = {k: pa.array(v, pa.int32()) for k, v in zip("xyz", zip(*rows))}
    return spark.createDataFrame(pa.table(cols))


def tiles_from_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV tile scan (S1): x,y,z rows, blank lines skipped —
    /root/reference/robosat/tiles.py:103-120."""
    df = spark.read.schema("x INT, y INT, z INT").option("mode", "DROPMALFORMED").csv(path)
    return df.filter(F.col("x").isNotNull() & F.col("y").isNotNull() & F.col("z").isNotNull())


def tiles_from_slippy_map(spark: SparkSession, root: str, with_content: bool = False) -> DataFrame:
    """Slippy-map directory scan (S2): z/x/y.ext -> (z, x, y[, content]) —
    /root/reference/robosat/tiles.py:65-100 (digit-filter on path parts)."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", "*.*")
    df = reader.load(root + "/*/*/*")
    pat = r".*/(\d+)/(\d+)/(\d+)\.(png|jpg|jpeg|webp)$"
    df = df.withColumn("z", F.regexp_extract(F.col("path"), pat, 1)).withColumn(
        "x", F.regexp_extract(F.col("path"), pat, 2)
    ).withColumn("y", F.regexp_extract(F.col("path"), pat, 3))
    df = df.filter((F.col("z") != "") & (F.col("x") != "") & (F.col("y") != ""))
    cols = [F.col("z").cast("int"), F.col("x").cast("int"), F.col("y").cast("int")]
    if with_content:
        cols.append(F.col("content"))
    return df.select(*cols)


def grids_from_slippy_pngs(spark: SparkSession, root: str) -> DataFrame:
    """Slippy PNG directory -> grids table (z, x, y, w, h, data): the
    inverse of sinks.write_slippy_pngs, decoding each z/x/y.png with the
    from-scratch codec (kernels.png) in Arrow batches. Palette images
    yield the class-index bytes — exactly what rasterize_masks produced,
    so write->scan->decode is an identity on mask datasets
    (tests/test_png.py); the grids leave through the mask codec
    (``rasterize.encode_masks``), so the table has ``MASK_SCHEMA``."""
    from ..operators.rasterize import MASK_SCHEMA, encode_masks

    tiles = tiles_from_slippy_map(spark, root, with_content=True)

    def gen(batches):
        from ..kernels.png import decode_png

        for batch in batches:
            masks = []
            for z, x, y, content in zip(*(batch.column(c).to_pylist() for c in ("z", "x", "y", "content"))):
                img, _pal = decode_png(content)
                if img.ndim != 2:
                    # the grids schema is single-channel (1 byte/pixel);
                    # silently packing RGB(A) bytes would corrupt every
                    # downstream reshape(h, w)
                    raise ValueError(
                        f"tile {z}/{x}/{y}: expected gray/palette PNG, got "
                        f"{img.shape[2]} channels — grids tables are "
                        "single-channel masks"
                    )
                masks.append((z, x, y, img))
            yield encode_masks(masks)

    return tiles.mapInArrow(gen, MASK_SCHEMA)


def features_from_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection load (S4): multiLine JSON -> features table.

    MultiPolygon flattens to one row per polygon sharing geom_id
    (/root/reference/robosat/tools/rasterize.py:56-61)."""
    raw = spark.read.option("multiLine", True).json(path)
    feats = raw.select(F.posexplode("features").alias("geom_id", "f"))
    poly = feats.filter(F.col("f.geometry.type") == "Polygon").select(
        F.col("geom_id").cast("long"),
        F.lit("Polygon").alias("kind"),
        F.col("f.geometry.coordinates").cast("array<array<array<double>>>").alias("rings"),
    )
    return poly.select(
        F.monotonically_increasing_id().alias("feature_id"),
        "kind",
        "geom_id",
        "rings",
        F.struct(
            F.aggregate(F.flatten("rings"), F.lit(1e300), lambda a, p: F.least(a, p[0])).alias("minx"),
            F.aggregate(F.flatten("rings"), F.lit(1e300), lambda a, p: F.least(a, p[1])).alias("miny"),
            F.aggregate(F.flatten("rings"), F.lit(-1e300), lambda a, p: F.greatest(a, p[0])).alias("maxx"),
            F.aggregate(F.flatten("rings"), F.lit(-1e300), lambda a, p: F.greatest(a, p[1])).alias("maxy"),
        ).alias("bbox"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
