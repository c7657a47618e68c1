"""The whole-array raster->vector kernels against per-element references.

Each reference is the plain loop form of its kernel, kept here: a
per-pixel even-odd test for the scanline burn, Suzuki-Abe's full
raster-order scan for the border-pixel contour scan, the scalar ear test
for ``triangulate``, and a per-point Sutherland-Hodgman loop for the
batched ``clip_half_plane`` under ``clip_convex``, the convex buffer's
inward offset and (one clip per triangle) ``intersection_area``.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from robosat_spark.kernels import buffer as B
from robosat_spark.kernels import geometry as G
from robosat_spark.kernels import raster as R

# --------------------------------------------------------------------------
# scanline burn
# --------------------------------------------------------------------------


def _burn_reference(rings, w, h):
    """Every pixel centre against every non-horizontal edge, even-odd."""
    out = np.zeros((h, w), dtype=np.uint8)
    for ring in rings:
        r = G.open_ring(np.asarray(ring, dtype=np.float64))
        if len(r) < 3:
            continue
        edges = [(a, b, c, d) for (a, b), (c, d) in zip(r.tolist(), np.roll(r, -1, axis=0).tolist())
                 if d != b]
        for i in range(h):
            py = i + 0.5
            for j in range(w):
                px = j + 0.5
                for a, b, c, d in edges:
                    if (b > py) != (d > py) and px < a + (py - b) * (c - a) / (d - b):
                        out[i, j] ^= 1
    return out


# vertices on pixel centres (k + 0.5), on pixel corners (k) and anywhere
_coord = st.one_of(
    st.integers(-2, 18).map(lambda k: k + 0.5),
    st.integers(-2, 18).map(float),
    st.floats(-2.0, 18.0, allow_nan=False),
)


@st.composite
def _rings(draw):
    rings = []
    for _ in range(draw(st.integers(1, 3))):  # later rings act as holes
        pts = draw(st.lists(st.tuples(_coord, _coord), min_size=3, max_size=9))
        if draw(st.booleans()):  # a horizontal edge
            pts.insert(1, (draw(_coord), pts[0][1]))
        rings.append(np.asarray(pts, dtype=np.float64))
    return rings


@settings(max_examples=150, deadline=None)
@given(_rings(), st.integers(1, 16), st.integers(1, 16))
def test_rasterize_rings_equals_per_pixel_even_odd(rings, w, h):
    got = R.rasterize_rings(rings, w, h, lambda x, y: (x, y))
    assert got.dtype == np.uint8
    assert np.array_equal(got, _burn_reference(rings, w, h))


def test_rasterize_rings_hole_and_centre_vertices():
    outer = np.array([[0.5, 0.5], [9.5, 0.5], [9.5, 9.5], [0.5, 9.5]])
    hole = np.array([[3.0, 3.0], [6.0, 3.0], [6.0, 6.0], [3.0, 6.0]])
    got = R.rasterize_rings([outer, hole], 10, 10, lambda x, y: (x, y))
    assert np.array_equal(got, _burn_reference([outer, hole], 10, 10))
    assert got[1, 1] == 1 and got[4, 4] == 0


# --------------------------------------------------------------------------
# contour scan
# --------------------------------------------------------------------------


def _contours_reference(mask):
    """Suzuki-Abe visiting every pixel in raster order."""
    h, w = mask.shape
    f = np.zeros((h + 2, w + 2), dtype=np.int32)
    f[1:-1, 1:-1] = (mask != 0).astype(np.int32)
    contours, info = [], []
    nbd, nbd_is_hole, nbd_parent = 1, {1: True}, {1: 0}
    for i in range(1, h + 1):
        lnbd = 1
        row = f[i]
        for j in range(1, w + 1):
            fij = row[j]
            if fij == 0:
                continue
            outer = fij == 1 and row[j - 1] == 0
            hole = fij >= 1 and row[j + 1] == 0
            if outer or hole:
                nbd += 1
                if hole:
                    start_dir = 0
                    if fij > 1:
                        lnbd = fij
                else:
                    start_dir = 4
                parent = nbd_parent[lnbd] if nbd_is_hole[lnbd] == hole else lnbd
                nbd_is_hole[nbd], nbd_parent[nbd] = hole, parent
                contours.append(R._follow_border(f, i, j, start_dir, nbd))
                info.append({"parent": parent - 2 if parent >= 2 else -1, "is_hole": hole and not outer})
            if row[j] != 1:
                lnbd = abs(row[j])
    return [R._approx_simple(np.column_stack([p[:, 1] - 1, p[:, 0] - 1])) for p in contours], info


def _assert_same_contours(mask):
    got_c, got_h = R.find_contours(mask)
    want_c, want_h = _contours_reference(mask)
    assert got_h == want_h
    assert len(got_c) == len(want_c)
    for a, b in zip(got_c, want_c):
        assert np.array_equal(a, b)


@settings(max_examples=150, deadline=None)
@given(st.integers(1, 24), st.integers(1, 24), st.floats(0.1, 0.9), st.integers(0, 2**31 - 1),
       st.booleans())
def test_find_contours_equals_full_raster_scan(h, w, density, seed, smooth):
    mask = (np.random.default_rng(seed).random((h, w)) < density).astype(np.uint8)
    if smooth:
        mask = R.morph_close(R.morph_open(mask, 2), 3)
    _assert_same_contours(mask)


def _diamond(n):
    m = np.zeros((2 * n + 3, 2 * n + 3), np.uint8)
    for r in range(n + 1):
        m[1 + r, n + 1 - r : n + 2 + r] = 1
        m[2 * n + 1 - r, n + 1 - r : n + 2 + r] = 1
    return m


def _nested(levels):
    m = np.zeros((4 * levels + 4, 4 * levels + 4), np.uint8)
    for k in range(levels):
        m[2 * k + 1 : -(2 * k + 1), 2 * k + 1 : -(2 * k + 1)] = 1 - k % 2
    return m


@pytest.mark.parametrize(
    "mask",
    [_diamond(4), np.hstack([_diamond(3), _diamond(3)]), _nested(3), _nested(5),
     np.ones((5, 7), np.uint8), np.zeros((4, 4), np.uint8), np.eye(6, dtype=np.uint8)],
    ids=["apex", "two-apexes", "islands-3", "islands-5", "full", "empty", "diagonal"],
)
def test_find_contours_apexes_and_nested_islands(mask):
    _assert_same_contours(mask)


# --------------------------------------------------------------------------
# ear clipping and the batched clip
# --------------------------------------------------------------------------


def _in_tri_inclusive(p, a, b, c):
    d1 = (p[0] - b[0]) * (a[1] - b[1]) - (a[0] - b[0]) * (p[1] - b[1])
    d2 = (p[0] - c[0]) * (b[1] - c[1]) - (b[0] - c[0]) * (p[1] - c[1])
    d3 = (p[0] - a[0]) * (c[1] - a[1]) - (c[0] - a[0]) * (p[1] - a[1])
    has_neg = (d1 < 0) or (d2 < 0) or (d3 < 0)
    has_pos = (d1 > 0) or (d2 > 0) or (d3 > 0)
    return not (has_neg and has_pos)


def _triangulate_reference(ring):
    """Scalar ear clipping: first ear in ring order, one corner at a time."""
    r = G.orient(G.open_ring(G.as_ring(ring)), ccw=True)
    if len(r) < 3:
        return None
    idx, tris = list(range(len(r))), []
    while len(idx) > 3:
        n = len(idx)
        for ii in range(n):
            i0, i1, i2 = idx[(ii - 1) % n], idx[ii], idx[(ii + 1) % n]
            a, b, c = r[i0], r[i1], r[i2]
            if (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]) <= 0.0:
                continue
            if any(_in_tri_inclusive(r[j], a, b, c) for j in idx if j not in (i0, i1, i2)):
                continue
            tris.append(np.array([a, b, c]))
            idx.pop(ii)
            break
        else:
            return None
    tris.append(r[idx])
    return tris


def _half_plane_reference(poly, a, edge):
    """One Sutherland-Hodgman step, point by point: the part of the open
    ring ``poly`` left of the line through ``a`` along ``edge``."""
    prev = np.roll(poly, 1, axis=0)
    side = edge[0] * (poly[:, 1] - a[1]) - edge[1] * (poly[:, 0] - a[0])
    side_prev = edge[0] * (prev[:, 1] - a[1]) - edge[1] * (prev[:, 0] - a[0])
    out = []
    for j in range(len(poly)):
        cur_in, prev_in = side[j] >= 0, side_prev[j] >= 0
        if cur_in != prev_in:
            denom = side[j] - side_prev[j]
            t = -side_prev[j] / denom if abs(denom) > 1e-300 else 0.0
            out.append(prev[j] + t * (poly[j] - prev[j]))
        if cur_in:
            out.append(poly[j])
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)


def _clip_reference(subject, clipper):
    """Subject clipped by each edge of the counter-clockwise clipper."""
    clipper = G.orient(G.open_ring(clipper), ccw=True)
    out = G.open_ring(subject)
    for i in range(len(clipper)):
        if len(out) == 0:
            break
        a, b = clipper[i], clipper[(i + 1) % len(clipper)]
        out = _half_plane_reference(out, a, b - a)
    return out


def _inward_buffer_reference(ring, d):
    """The convex ring shrunk by ``d``: clipped by each edge moved inward."""
    r = G.orient(G.open_ring(G.as_ring(ring)), ccw=True)
    if len(r) < 3:
        return []
    out = r
    for i in range(len(r)):
        a, b = r[i], r[(i + 1) % len(r)]
        e = b - a
        length = float(np.hypot(e[0], e[1]))
        if length < 1e-15:
            continue
        out = _half_plane_reference(out, a + np.array([-e[1], e[0]]) / length * d, e)
        if len(out) < 3:
            return []
    return [G.close_ring(out)]


def _area_reference(ring_a, ring_b):
    """Sum of one reference clip per triangle of B."""
    a = G.orient(G.open_ring(G.as_ring(ring_a)), ccw=True)
    b = G.open_ring(G.as_ring(ring_b))
    if len(a) < 3 or len(b) < 3:
        return 0.0
    tris = _triangulate_reference(b)
    if tris is None:
        return None
    total = 0.0
    for tri in tris:
        out = _clip_reference(a, tri)
        if len(out) >= 3:
            total += max(G.signed_area(out), 0.0)
    return total


@st.composite
def _star(draw):
    """A simple ring: vertices at sorted angles around a centre, radius
    free; on a half-unit grid the ring gets collinear and repeated
    vertices, which deadlock the ear clipper."""
    n = draw(st.integers(3, 40))
    cx, cy = draw(st.floats(-1, 1)), draw(st.floats(-1, 1))
    ang = np.sort(draw(st.lists(st.floats(0, 2 * np.pi, exclude_max=True), min_size=n, max_size=n,
                                unique=True)))
    rad = np.asarray(draw(st.lists(st.floats(0.5, 3.0), min_size=n, max_size=n)))
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    if draw(st.booleans()):
        ring = np.round(ring * 2) / 2
    if draw(st.booleans()):
        ring = G.close_ring(ring)
    return ring


@settings(max_examples=200, deadline=None)
@given(_star())
def test_triangulate_picks_the_scalar_ears(ring):
    got, want = G.triangulate(ring), _triangulate_reference(ring)
    assert (got is None) == (want is None)
    if want is not None:
        assert len(got) == len(want)
        for a, b in zip(got, want):
            assert np.array_equal(a, b)


@settings(max_examples=200, deadline=None)
@given(_star(), _star())
def test_intersection_area_equals_per_triangle_clip_sum(ring_a, ring_b):
    got, want = G.intersection_area(ring_a, ring_b), _area_reference(ring_a, ring_b)
    assert (got is None) == (want is None)
    if want is not None:
        # summation order differs; the subject's area floors the scale so
        # an empty intersection may differ by rounding noise only
        scale = max(abs(want), abs(G.signed_area(ring_a)))
        assert abs(got - want) <= 1e-12 * scale


@st.composite
def _convex(draw):
    """A convex ring: vertices at sorted angles on an ellipse, some of them
    repeated (zero-length edges), optionally closed."""
    n = draw(st.integers(3, 24))
    cx, cy = draw(st.floats(-1, 1)), draw(st.floats(-1, 1))
    rx, ry = draw(st.floats(0.5, 3.0)), draw(st.floats(0.5, 3.0))
    ang = np.sort(draw(st.lists(st.floats(0, 2 * np.pi, exclude_max=True), min_size=n, max_size=n,
                                unique=True)))
    ring = np.column_stack([cx + rx * np.cos(ang), cy + ry * np.sin(ang)])
    if draw(st.booleans()):
        ring = np.repeat(ring, draw(st.lists(st.integers(1, 2), min_size=n, max_size=n)), axis=0)
    if draw(st.booleans()):
        ring = ring[::-1]
    if draw(st.booleans()):
        ring = G.close_ring(ring)
    return ring


@settings(max_examples=200, deadline=None)
@given(_star(), _convex())
def test_clip_convex_equals_per_point_clip(subject, clipper):
    got, want = G.clip_convex(subject, clipper), _clip_reference(subject, clipper)
    assert got.shape == want.shape
    assert np.array_equal(got, want)


@settings(max_examples=200, deadline=None)
@given(_convex(), st.floats(0.0, 2.0, exclude_min=True))
def test_inward_buffer_equals_per_point_clip(ring, d):
    got, want = B.buffer_ring_exact(ring, -d), _inward_buffer_reference(ring, d)
    assert len(got) == len(want)
    for a, b in zip(got, want):
        assert np.array_equal(a, b)
