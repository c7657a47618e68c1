"""Geometry kernel unit tests: PIP, area, DP simplify, intersects, IoU."""

import numpy as np
import pytest

from robosat_spark.kernels import geometry as G
from robosat_spark.sources.fixtures import PARKING_0, PARKING_1

SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])


def _parking_rings():
    """The reference's two parking polygons, embedded in the fixtures."""
    return [np.asarray(PARKING_0), np.asarray(PARKING_1)]


def test_signed_area_and_orientation():
    assert G.signed_area(SQUARE) == pytest.approx(16.0)
    assert G.is_ccw(SQUARE)
    cw = SQUARE[::-1]
    assert not G.is_ccw(cw)
    assert G.is_ccw(G.orient(cw, ccw=True))


def test_close_open_ring():
    closed = G.close_ring(SQUARE)
    assert len(closed) == 5 and np.array_equal(closed[0], closed[-1])
    assert len(G.open_ring(closed)) == 4


def test_points_in_ring():
    px = np.array([2.0, 5.0, -1.0, 2.0])
    py = np.array([2.0, 2.0, 2.0, 10.0])
    np.testing.assert_array_equal(G.points_in_ring(px, py, SQUARE), [True, False, False, False])


def test_points_in_polygon_with_hole():
    hole = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]])
    inside = G.points_in_polygon(np.array([0.5, 2.0]), np.array([0.5, 2.0]), [SQUARE, hole])
    np.testing.assert_array_equal(inside, [True, False])


def test_pip_parking_fixture():
    ring = _parking_rings()[0]
    cx, cy = ring[:, 0].mean(), ring[:, 1].mean()
    assert G.points_in_ring(np.array([cx]), np.array([cy]), ring)[0]
    assert not G.points_in_ring(np.array([cx + 1.0]), np.array([cy]), ring)[0]


def test_simplify_dp_square_with_collinear():
    ring = np.array([[0, 0], [2, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    out = G.simplify_dp(ring, 0.01)
    assert len(out) == 4  # collinear midpoint removed


def test_simplify_dp_epsilon_scaling():
    t = np.linspace(0, 2 * np.pi, 100, endpoint=False)
    circle = np.column_stack([np.cos(t), np.sin(t)])
    fine = G.simplify_dp(circle, 0.001)
    coarse = G.simplify_dp(circle, 0.2)
    assert len(coarse) < len(fine) <= 100


def test_arc_length():
    assert G.arc_length(SQUARE) == pytest.approx(16.0)


def test_rings_intersect():
    other = SQUARE + 2.0  # overlapping
    assert G.rings_intersect(SQUARE, other)
    far = SQUARE + 10.0
    assert not G.rings_intersect(SQUARE, far)
    contained = SQUARE * 0.25 + 1.0  # fully inside
    assert G.rings_intersect(SQUARE, contained)


def test_clip_convex():
    clipped = G.clip_convex(SQUARE, SQUARE + 2.0)
    assert G.signed_area(G.orient(clipped)) == pytest.approx(4.0)


def test_raster_iou_known_values():
    # two unit-degree squares overlapping by half -> IoU = 1/3
    a = [np.array([[0, 0], [0.01, 0], [0.01, 0.01], [0, 0.01]], dtype=float)]
    b = [np.array([[0.005, 0], [0.015, 0], [0.015, 0.01], [0.005, 0.01]], dtype=float)]
    iou = G.raster_iou_multi([a], [b], resolution=512)
    assert iou == pytest.approx(1.0 / 3.0, abs=0.01)
    assert G.raster_iou_multi([a], [a]) == pytest.approx(1.0, abs=0.01)
    c = [np.array([[1, 1], [1.01, 1], [1.01, 1.01], [1, 1.01]], dtype=float)]
    assert G.raster_iou_multi([a], [c]) == 0.0


def test_polygon_area_parking_plausible():
    # parking lot 0 is a ~150m-scale feature; equal-area m² should be
    # in the 1e3..1e5 range (sanity, reference stores int area
    # /root/reference/robosat/tools/merge.py:78-81)
    area = G.polygon_area_m2(_parking_rings()[0])
    assert 1e3 < area < 1e5


def test_is_convex():
    rect = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    lshape = [[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]]
    collinear = [[0.0, 0.0], [0.5, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
    assert G.is_convex(rect)
    assert G.is_convex(rect[::-1])  # winding-independent
    assert not G.is_convex(lshape)
    assert G.is_convex(collinear)
    assert not G.is_convex([[0.0, 0.0], [1.0, 1.0]])


def test_convex_iou_analytic_goldens_and_raster_crosscheck():
    """The fixture's planted overlap fractions on convex pairs: the exact
    IoU must hit the analytic IoU t/(2-t) to float precision, and the
    supersampled raster IoU must agree within 0.02 (the item-7
    cross-check: raster is the fallback of the exact path)."""
    w, lat0 = 0.002, 34.666
    for idx, t in enumerate([0.0, 6.0 / 13.0, 22.0 / 31.0, 18.0 / 19.0]):
        lon0 = -82.806 + idx * 0.006
        a = np.array([[lon0, lat0], [lon0 + w, lat0], [lon0 + w, lat0 + w],
                      [lon0, lat0 + w], [lon0, lat0]])
        b = a + np.array([w * (1.0 - t), 0.0])
        exact = G.exact_iou([a], [b])
        assert abs(exact - t / (2.0 - t)) < 1e-6, (t, exact)
        rast = G.raster_iou_multi([[a]], [[b]], resolution=512)
        assert abs(exact - rast) < 0.02, (t, exact, rast)


def test_convex_iou_matches_raster_on_random_convex_pairs():
    """Random convex (ellipse-sampled) pairs at varied overlap: the exact
    IoU and the raster estimate stay within the 0.02 sampling bound."""
    ang = np.linspace(0.0, 2.0 * np.pi, 24, endpoint=False)
    for k in range(6):
        cx = -82.8 + 0.001 * k
        r1 = 0.0010 + 0.0002 * (k % 3)
        a = np.column_stack([cx + r1 * np.cos(ang), 34.7 + 0.7 * r1 * np.sin(ang)])
        shift = 0.0004 * k
        b = np.column_stack([cx + shift + r1 * np.cos(ang), 34.7 + 0.7 * r1 * np.sin(ang)])
        exact = G.exact_iou([a], [b])
        rast = G.raster_iou_multi([[a]], [[b]], resolution=512)
        assert abs(exact - rast) < 0.02, (k, exact, rast)
        assert 0.0 <= exact <= 1.0


def test_triangulate_partitions_area():
    """Ear-clipping triangle areas must sum EXACTLY (float-exactly up to
    accumulation order) to the polygon area, convex and concave."""
    rect = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]])
    lshape = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]], dtype=float)
    star = np.array(
        [[0, 0], [2, 0.8], [4, 0], [3.2, 2], [4, 4], [2, 3.2], [0, 4], [0.8, 2]],
        dtype=float,
    )
    for ring in (rect, lshape, star):
        tris = G.triangulate(ring)
        assert tris is not None
        got = sum(abs(G.signed_area(t)) for t in tris)
        assert abs(got - abs(G.signed_area(ring))) < 1e-9


def test_exact_iou_concave_and_holed_vs_raster():
    """General-polygon exact IoU (triangulate + convex clip): analytic
    goldens on concave/holed cases, and the raster fallback agrees within
    its 0.02 sampling bound (item-7 cross-check at general shapes)."""
    s = 0.001
    lon0, lat0 = -82.83, 34.67
    lshape = np.array(
        [[lon0, lat0], [lon0 + 2 * s, lat0], [lon0 + 2 * s, lat0 + s],
         [lon0 + s, lat0 + s], [lon0 + s, lat0 + 2 * s], [lon0, lat0 + 2 * s]]
    )
    # rect covering the L's bounding box: inter = L area (3 s^2 in degree
    # space), union = rect (4 s^2) -> IoU = 3/4 (lat-band scaling ~cancels
    # at this size; allow 1e-3)
    rect = np.array([[lon0, lat0], [lon0 + 2 * s, lat0],
                     [lon0 + 2 * s, lat0 + 2 * s], [lon0, lat0 + 2 * s]])
    exact = G.exact_iou([lshape], [rect])
    assert exact is not None and abs(exact - 0.75) < 1e-3
    rast = G.raster_iou_multi([[lshape]], [[rect]], resolution=512)
    assert abs(exact - rast) < 0.02

    # holed square vs the same square unholed: IoU = (1 - hole share)
    outer = np.array([[lon0, lat0], [lon0 + 4 * s, lat0],
                      [lon0 + 4 * s, lat0 + 4 * s], [lon0, lat0 + 4 * s]])
    hole = np.array([[lon0 + s, lat0 + s], [lon0 + 3 * s, lat0 + s],
                     [lon0 + 3 * s, lat0 + 3 * s], [lon0 + s, lat0 + 3 * s]])
    exact_h = G.exact_iou([outer, hole], [outer])
    assert exact_h is not None and abs(exact_h - 0.75) < 1e-3
    rast_h = G.raster_iou_multi([[outer, hole]], [[outer]], resolution=512)
    assert abs(exact_h - rast_h) < 0.02
