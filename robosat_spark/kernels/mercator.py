"""Web-Mercator / slippy-tile math, vectorized NumPy.

From-scratch re-implementation of the tile arithmetic the reference gets
from ``mercantile`` (used at /root/reference/robosat/tiles.py:19-42 via
``mercantile.bounds`` and at /root/reference/robosat/tools/rasterize.py:38-61
via ``mercantile.xy``).  All functions accept scalars or ndarrays and
broadcast; nothing here imports Spark.

Conventions (slippy map / EPSG:3857):
  * lon/lat are WGS84 degrees; tile origin is the north-west corner.
  * ``R`` is the spherical earth radius used by EPSG:3857.
"""

from __future__ import annotations

import numpy as np

R = 6378137.0
ORIGIN_SHIFT = np.pi * R  # 20037508.342789244
# Latitude limit of the square web-mercator world.
MERCATOR_LAT_LIMIT = 85.051128779806604

# WGS84 ellipsoid (for the ellipsoidal EPSG:3395 projection, parity with
# /root/reference/robosat/spatial/core.py:42-53 which projects via pyproj).
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E = np.sqrt(WGS84_F * (2.0 - WGS84_F))


def lonlat_to_mercator(lon, lat):
    """EPSG:4326 -> EPSG:3857 forward (spherical).

    Parity target: first vertex of the reference parking fixture projects to
    x with ``int(x) == -9219757`` (/root/reference/tests/tools/test_rasterize.py:60).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = R * np.radians(lon)
    lat = np.clip(lat, -MERCATOR_LAT_LIMIT, MERCATOR_LAT_LIMIT)
    y = R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def mercator_to_lonlat(x, y):
    """EPSG:3857 -> EPSG:4326 inverse (spherical)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / R)) - np.pi / 2.0)
    return lon, lat


def lonlat_to_tile_f(lon, lat, zoom):
    """(lon, lat, z) -> continuous tile-grid coordinates (float x, y):
    x = (lon+180)/360 * 2^z, y = (1 - asinh(tan(lat))/pi) / 2 * 2^z, with
    lat clamped to the square mercator world."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERCATOR_LAT_LIMIT, MERCATOR_LAT_LIMIT)
    n = np.float64(2.0 ** zoom)
    tx = (lon + 180.0) / 360.0 * n
    ty = (1.0 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2.0 * n
    return tx, ty


def lonlat_to_tile(lon, lat, zoom):
    """(lon, lat, z) -> integer slippy tile (x, y).

    Matches ``mercantile.tile``: :func:`lonlat_to_tile_f` floored and
    clamped to the grid.
    """
    n = 2.0 ** zoom
    tx, ty = lonlat_to_tile_f(lon, lat, zoom)
    xt = np.clip(np.floor(tx), 0, n - 1).astype(np.int64)
    yt = np.clip(np.floor(ty), 0, n - 1).astype(np.int64)
    return xt, yt


def tile_ul(x, y, zoom):
    """Upper-left corner of tile in lon/lat (mercantile.ul parity)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = np.float64(2.0 ** zoom)
    lon = x / n * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))
    return lon, lat


def tile_bounds(x, y, zoom):
    """Tile bounds in lon/lat: (west, south, east, north).

    mercantile.bounds parity — consumed by ``pixel_to_location``
    (/root/reference/robosat/tiles.py:19-42).
    """
    w, n = tile_ul(x, y, zoom)
    e, s = tile_ul(np.asarray(x) + 1, np.asarray(y) + 1, zoom)
    return w, s, e, n


def tile_xy_bounds(x, y, zoom):
    """Tile bounds in web-mercator meters: (left, bottom, right, top).

    mercantile.xy_bounds parity — the affine source for rasterization
    (/root/reference/robosat/tools/rasterize.py:75-77).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = np.float64(2.0 ** zoom)
    tile_size = 2.0 * ORIGIN_SHIFT / n
    left = x * tile_size - ORIGIN_SHIFT
    right = (x + 1.0) * tile_size - ORIGIN_SHIFT
    top = ORIGIN_SHIFT - y * tile_size
    bottom = ORIGIN_SHIFT - (y + 1.0) * tile_size
    return left, bottom, right, top


def pixel_to_location(x, y, zoom, dx, dy):
    """(tile, dx, dy in [0,1]) -> (lon, lat) by lerp over tile bounds.

    Parity with /root/reference/robosat/tiles.py:19-42 (note: dy=0 is the
    *south* edge there — callers y-flip, /root/reference/robosat/features/core.py:53).
    """
    west, south, east, north = tile_bounds(x, y, zoom)
    lon = west + (east - west) * np.asarray(dx, dtype=np.float64)
    lat = south + (north - south) * np.asarray(dy, dtype=np.float64)
    return lon, lat


def pack_tile_id(x, y, zoom):
    """(z, x, y) -> single int64 cell id: (z << 58) | (x << 29) | y.

    H3/S2-style single-column cell id; the engine's shuffle/partition key
    (SURVEY.md §1.1). Valid for z <= 28.
    """
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    z = np.asarray(zoom, dtype=np.int64)
    return (z << np.int64(58)) | (x << np.int64(29)) | y


def unpack_tile_id(tile_id):
    """Inverse of :func:`pack_tile_id` -> (z, x, y)."""
    t = np.asarray(tile_id, dtype=np.int64)
    z = t >> np.int64(58)
    x = (t >> np.int64(29)) & np.int64((1 << 29) - 1)
    y = t & np.int64((1 << 29) - 1)
    return z, x, y


def morton_cell(x, y, zoom):
    """Interleave tile x/y bits -> Morton (Z-order) cell id, S2-curve-style.

    Gives spatially-local cell ids so a range of cells ~= a disk on the map;
    used as the second cell family next to the packed tile id.
    """
    x = np.asarray(x, dtype=np.uint64)
    y = np.asarray(y, dtype=np.uint64)

    def _spread(v):
        v = v & np.uint64(0x00000000FFFFFFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    code = _spread(x) | (_spread(y) << np.uint64(1))
    return code.astype(np.int64), zoom


def quadkey(x, y, zoom):
    """Bing-style quadkey string(s) for tiles (z digits base-4)."""
    x = np.atleast_1d(np.asarray(x, dtype=np.int64))
    y = np.atleast_1d(np.asarray(y, dtype=np.int64))
    out = np.zeros(x.shape, dtype=f"<U{max(zoom, 1)}")
    keys = []
    for xi, yi in zip(x.tolist(), y.tolist()):
        digits = []
        for level in range(zoom, 0, -1):
            mask = 1 << (level - 1)
            d = 0
            if xi & mask:
                d += 1
            if yi & mask:
                d += 2
            digits.append(str(d))
        keys.append("".join(digits))
    out[:] = keys
    return out if out.shape != (1,) else out[0]


def neighbors(x, y, zoom):
    """The 8 adjacent tiles of (x, y, z), clipped to the zoom grid.

    Parity with /root/reference/robosat/tiles.py:139-159 (``adjacent_tile``
    arithmetic: neighbor = (x+dx, y+dy, z))."""
    n = 1 << zoom
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            nx, ny = x + dx, y + dy
            if 0 <= nx < n and 0 <= ny < n:
                out.append((nx, ny, zoom))
    return out


def project_mollweide(lon, lat, max_iter=20, tol=1e-10):
    """EPSG:4326 -> ESRI:54009 Mollweide (equal-area), Newton iteration.

    Replaces the pyproj transformer the reference caches at
    /root/reference/robosat/spatial/core.py:9-40; Mollweide is what its
    ``union``/``iou`` project through for equal-area measurement."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.radians(lat)
    lam = np.radians(lon)
    # Solve 2*theta + sin(2*theta) = pi * sin(phi) for theta.
    theta = phi.copy()
    target = np.pi * np.sin(phi)
    for _ in range(max_iter):
        f = 2.0 * theta + np.sin(2.0 * theta) - target
        fp = 2.0 + 2.0 * np.cos(2.0 * theta)
        step = np.where(np.abs(fp) > 1e-12, f / np.maximum(fp, 1e-12), 0.0)
        theta = theta - step
        if np.all(np.abs(step) < tol):
            break
    x = R * (2.0 * np.sqrt(2.0) / np.pi) * lam * np.cos(theta)
    y = R * np.sqrt(2.0) * np.sin(theta)
    return x, y


def project_epsg3395(lon, lat):
    """EPSG:4326 -> EPSG:3395 ellipsoidal mercator (isometric latitude).

    Parity with the reference's 4326<->3395 transformers
    (/root/reference/robosat/spatial/core.py:42-53)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -89.5, 89.5)
    e = WGS84_E
    phi = np.radians(lat)
    x = WGS84_A * np.radians(lon)
    con = e * np.sin(phi)
    ts = np.tan(np.pi / 4.0 + phi / 2.0) * ((1.0 - con) / (1.0 + con)) ** (e / 2.0)
    y = WGS84_A * np.log(ts)
    return x, y
