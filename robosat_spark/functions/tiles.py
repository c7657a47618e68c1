"""Tile/cell encoding as pure Spark Column expressions (JVM-side, codegen).

The slippy-tile arithmetic (mercantile equivalents used throughout the
reference, e.g. /root/reference/robosat/tiles.py:19-42) is plain math, so it
compiles into whole-stage codegen — no Python in the hot path, filters on
tile columns push down to the parquet scan. The NumPy twins in
``kernels.mercator`` exist for in-UDF use; these are the scan-side forms.

All functions return Columns; ``zoom`` is a Python int (plan-time constant,
folded by Catalyst).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERCATOR_LAT_LIMIT = 85.051128779806604


def _clip_lat(lat: Column) -> Column:
    return F.least(F.greatest(lat, F.lit(-MERCATOR_LAT_LIMIT)), F.lit(MERCATOR_LAT_LIMIT))


def tile_x(lon: Column, zoom: int) -> Column:
    """x = floor((lon+180)/360 * 2^z), clamped to the grid."""
    n = float(2**zoom)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(int(n) - 1)).cast("long")


def tile_y(lat: Column, zoom: int) -> Column:
    """y = floor((1 - asinh(tan(lat))/pi)/2 * 2^z), clamped.

    asinh is spelled ``log(t + sqrt(t*t+1))`` so the DuckDB oracle (which
    has no asinh) evaluates the bit-identical IEEE expression — floor() at
    tile boundaries then agrees across engines."""
    n = float(2**zoom)
    t = F.tan(F.radians(_clip_lat(lat)))
    asinh_t = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    raw = F.floor(
        (F.lit(1.0) - asinh_t / F.lit(3.141592653589793)) / F.lit(2.0) * F.lit(n)
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(int(n) - 1)).cast("long")


def pack_tile_id_py(z: int, x: int, y: int) -> int:
    """Python twin of ``pack_tile_id`` for driver-side index building."""
    return (z << 58) | (x << 29) | y


def pack_tile_id(z, x: Column, y: Column) -> Column:
    """(z, x, y) -> int64 cell id (z<<58)|(x<<29)|y — the shuffle key."""
    zc = F.lit(int(z)).cast("long") if isinstance(z, int) else z.cast("long")
    return (
        F.shiftleft(zc, 58)
        .bitwiseOR(F.shiftleft(x.cast("long"), 29))
        .bitwiseOR(y.cast("long"))
    )


def unpack_tile_x(tile_id: Column) -> Column:
    return F.shiftright(tile_id, 29).bitwiseAND(F.lit((1 << 29) - 1))


def unpack_tile_y(tile_id: Column) -> Column:
    return tile_id.bitwiseAND(F.lit((1 << 29) - 1))


def quadkey(x: Column, y: Column, zoom: int) -> Column:
    """Bing quadkey as a string Column — unrolled per-level digit concat.

    ``zoom`` concat terms, all JVM-side (constant-folded shifts/masks)."""
    digits = []
    for level in range(zoom, 0, -1):
        mask = 1 << (level - 1)
        d = (
            F.when(x.cast("long").bitwiseAND(F.lit(mask)) != 0, 1).otherwise(0)
            + F.when(y.cast("long").bitwiseAND(F.lit(mask)) != 0, 2).otherwise(0)
        )
        digits.append(d.cast("string"))
    return F.concat(*digits) if digits else F.lit("")


def morton_cell(x: Column, y: Column, zoom: int) -> Column:
    """Z-order (Morton) cell id via unrolled bit interleave — JVM-side.

    S2-curve-style locality for range-partitioning; twin of
    ``kernels.mercator.morton_cell``."""

    def spread(v: Column) -> Column:
        v = v.cast("long")
        masks = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        v = v.bitwiseAND(F.lit(0x00000000FFFFFFFF))
        for shift, mask in masks:
            v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def _morton_py(x: int, y: int) -> int:
    """Driver-side twin of morton_cell's interleave (one point)."""
    def spread(v: int) -> int:
        v &= 0xFFFFFFFF
        for shift, mask in [
            (16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]:
            v = (v | (v << shift)) & mask
        return v

    return spread(x) | (spread(y) << 1)


def morton_ranges(
    tx0: int, ty0: int, tx1: int, ty1: int, zoom: int, max_ranges: int = 64
) -> list[tuple[int, int]]:
    """Decompose a tile bbox (inclusive corners at ``zoom``) into covering
    Z-order intervals — the scan-pruning primitive for tables CLUSTERED BY
    the morton cell (the Iceberg/Delta Z-ORDER layout): a bbox query
    becomes a handful of `morton BETWEEN lo AND hi` predicates that parquet
    row-group statistics prune to the touched data.

    Quadtree recursion: a quad fully inside the bbox contributes its whole
    contiguous morton interval [prefix·4^(z-l), prefix·4^(z-l)+4^(z-l)-1];
    partial quads split. ``max_ranges`` bounds the predicate size — when
    the exact decomposition would exceed it, sibling intervals merge
    (slightly looser ranges, still a superset: pruning stays CORRECT, the
    exact lon/lat refine downstream keeps semantics exact)."""
    out: list[tuple[int, int]] = []

    def rec(level: int, qx: int, qy: int) -> None:
        side = 1 << (zoom - level)
        x_lo, x_hi = qx * side, qx * side + side - 1
        y_lo, y_hi = qy * side, qy * side + side - 1
        if x_hi < tx0 or x_lo > tx1 or y_hi < ty0 or y_lo > ty1:
            return
        if x_lo >= tx0 and x_hi <= tx1 and y_lo >= ty0 and y_hi <= ty1:
            base = _morton_py(x_lo, y_lo)
            out.append((base, base + side * side - 1))
            return
        if level == zoom:
            base = _morton_py(x_lo, y_lo)
            out.append((base, base))
            return
        for dy in (0, 1):
            for dx in (0, 1):
                rec(level + 1, qx * 2 + dx, qy * 2 + dy)

    rec(0, 0, 0)
    out.sort()
    # coalesce adjacent/overlapping intervals
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    # enforce the predicate-size bound by merging across the (n - max)
    # SMALLEST gaps in one pass (keeps a SUPERSET of the exact cover —
    # pruning correctness is preserved). O(n log n), not the O(n²)
    # recompute-and-del loop: tall/thin bboxes at high zoom can produce
    # tens of thousands of exact intervals, and this runs on the driver
    # per query.
    if len(merged) > max_ranges:
        gaps = sorted(
            range(len(merged) - 1),
            key=lambda i: merged[i + 1][0] - merged[i][1],
        )
        drop = set(gaps[: len(merged) - max_ranges])  # gap i joins interval i & i+1
        out2: list[tuple[int, int]] = []
        for i, (lo, hi) in enumerate(merged):
            if out2 and (i - 1) in drop:
                out2[-1] = (out2[-1][0], hi)
            else:
                out2.append((lo, hi))
        merged = out2
    return merged


def morton_range_filter(morton_col: Column, ranges: list[tuple[int, int]]) -> Column:
    """OR-of-BETWEEN predicate over a morton column — plain comparisons,
    so Catalyst pushes it into the parquet scan (PushedFilters) and
    row-group stats on a Z-ordered table skip untouched data."""
    if not ranges:
        return F.lit(False)

    def build(lo_i: int, hi_i: int) -> Column:
        # BALANCED Or tree: a left-deep chain of ~50+ Ors overflows the
        # codegen visitor's stack; log-depth keeps any range count safe
        if lo_i == hi_i:
            lo, hi = ranges[lo_i]
            return morton_col.between(int(lo), int(hi))
        mid = (lo_i + hi_i) // 2
        return build(lo_i, mid) | build(mid + 1, hi_i)

    return build(0, len(ranges) - 1)


def neighbor_offsets_df(spark, include_self: bool = False):
    """Tiny 8-row (dx INT, dy INT) offsets DataFrame for halo/adjacency
    joins (J6 pattern, /root/reference/robosat/tiles.py:139-159); 9 rows
    with ``include_self``. Always broadcast by Catalyst. Built from a
    ``pyarrow.Table``, so it plans a ``LocalTableScan`` rather than a
    ``Scan ExistingRDD`` of a pickled Python RDD."""
    import pyarrow as pa

    rows = [
        (dx, dy)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if include_self or not (dx == 0 and dy == 0)
    ]
    dx, dy = zip(*rows)
    return spark.createDataFrame(
        pa.table({"dx": pa.array(dx, pa.int32()), "dy": pa.array(dy, pa.int32())})
    )


def tile_parent(x: Column, y: Column, levels: int = 1) -> tuple[Column, Column]:
    """Parent tile ``levels`` up the pyramid: integer halving of x/y."""
    return F.shiftright(x.cast("long"), levels), F.shiftright(y.cast("long"), levels)


def tile_children(x: Column, y: Column) -> Column:
    """The 4 children one zoom down: array<struct<x,y>>."""
    cx = F.shiftleft(x.cast("long"), 1)
    cy = F.shiftleft(y.cast("long"), 1)
    return F.array(
        *[
            F.struct((cx + dx).alias("x"), (cy + dy).alias("y"))
            for dx in (0, 1)
            for dy in (0, 1)
        ]
    )


_SQRT3 = 1.7320508075688772


def hex_cell(lon: Column, lat: Column, size_m: float) -> Column:
    """H3-style hexagonal cell id (second cell family, SURVEY §7 step 10):
    pointy-top hex binning of web-mercator meters at edge length ``size_m``,
    via axial coordinates + cube rounding — all when/otherwise arithmetic,
    so it runs in whole-stage codegen and has an exact SQL twin
    (``hex_cell_sql``). Returns (q + 2^25) << 26 | (r + 2^25) packed long."""
    R = 6378137.0
    mx = F.radians(lon) * F.lit(R)
    my = F.lit(R) * F.log(F.tan(F.lit(0.7853981633974483) + F.radians(lat) / F.lit(2.0)))
    q = (F.lit(_SQRT3 / 3.0) * mx - my / F.lit(3.0)) / F.lit(float(size_m))
    r = (F.lit(2.0 / 3.0) * my) / F.lit(float(size_m))
    x, z = q, r
    y = -x - z
    rx, ry, rz = F.round(x), F.round(y), F.round(z)
    dx, dy, dz = F.abs(rx - x), F.abs(ry - y), F.abs(rz - z)
    rx2 = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    rz2 = F.when(~((dx > dy) & (dx > dz)) & ~(dy > dz), -rx - ry).otherwise(rz)
    qi = rx2.cast("long") + F.lit(1 << 25)
    ri = rz2.cast("long") + F.lit(1 << 25)
    return F.shiftleft(qi, 26).bitwiseOR(ri)


def hex_cell_sql(size_m: float, lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of ``hex_cell`` (identical expression structure)."""
    R = 6378137.0
    mx = f"(RADIANS({lon}) * {R!r})"
    my = f"({R!r} * LN(TAN(0.7853981633974483 + RADIANS({lat}) / 2.0)))"
    q = f"(({_SQRT3 / 3.0!r} * {mx} - {my} / 3.0) / {float(size_m)!r})"
    r = f"((2.0 / 3.0) * {my} / {float(size_m)!r})"
    x, z = q, r
    y = f"(-{x} - {z})"
    rx, ry, rz = f"ROUND({x})", f"ROUND({y})", f"ROUND({z})"
    dx, dy, dz = f"ABS({rx} - {x})", f"ABS({ry} - {y})", f"ABS({rz} - {z})"
    big_dx = f"({dx} > {dy} AND {dx} > {dz})"
    rx2 = f"(CASE WHEN {big_dx} THEN -{ry} - {rz} ELSE {rx} END)"
    rz2 = f"(CASE WHEN NOT {big_dx} AND NOT ({dy} > {dz}) THEN -{rx} - {ry} ELSE {rz} END)"
    return (
        f"((CAST({rx2} AS BIGINT) + {1 << 25}) << 26) | (CAST({rz2} AS BIGINT) + {1 << 25})"
    )


def geotag_lon(text: Column) -> Column:
    """Extract longitude from a ``geo:{lat},{lon}`` token — vectorized regex
    + try_cast, the engine-side replacement for osmium geometry assembly
    (SURVEY.md §2.3 G27)."""
    return F.nullif(
        F.regexp_extract(text, r"geo:[+-]?\d+\.\d+,([+-]?\d+\.\d+)", 1), F.lit("")
    ).cast("double")


def geotag_lat(text: Column) -> Column:
    return F.nullif(
        F.regexp_extract(text, r"geo:([+-]?\d+\.\d+),[+-]?\d+\.\d+", 1), F.lit("")
    ).cast("double")


def geotag_lat_fast(text: Column) -> Column:
    """Scan-path variant of ``geotag_lat``: ``substring_index`` char scans
    instead of java.util.regex (no Matcher allocation per row — ~3.4x faster
    and GC-light at 32 threads). Identical output on the pages contract (one
    trailing ``geo:{lat},{lon}`` token, comma-free coordinates); the regex
    variant remains the general-input API."""
    tail = F.substring_index(text, "geo:", -1)
    return F.when(text.contains("geo:"), F.substring_index(tail, ",", 1)).cast("double")


def geotag_lon_fast(text: Column) -> Column:
    tail = F.substring_index(text, "geo:", -1)
    return F.when(text.contains("geo:"), F.substring_index(tail, ",", -1)).cast("double")
