"""Vector-geometry kernels: area, orientation, PIP, simplify, clip, IoU.

From-scratch NumPy replacements for the shapely/cv2 calls in the reference:
  * shoelace area / orientation  <- shapely ``polygon.orient`` + ``.area``
    (/root/reference/robosat/tools/merge.py:68-81)
  * point-in-polygon             <- shapely ``intersects`` refinement
    (/root/reference/robosat/tools/merge.py:52-55, dedupe.py:55-58)
  * Douglas-Peucker simplify     <- ``cv2.approxPolyDP``
    (/root/reference/robosat/features/core.py:112-124)
  * polygon clip + IoU           <- shapely ``intersection/union`` through an
    equal-area projection (/root/reference/robosat/spatial/core.py:56-77)

Clipping is one batched Sutherland-Hodgman step, ``clip_half_plane``, under
``clip_convex``, ``intersection_area`` and the convex buffer. IoU is the
exact ``exact_iou`` with the supersampled ``raster_iou_multi`` as its
fallback; both, and ``polygon_area_m2``, project through one Mollweide
ring projector.

A polygon here is an (N, 2) float64 ndarray of vertices; rings may be open
or closed (first==last) — functions normalize as needed. A polygon-with-
holes is a list of rings, ring 0 exterior.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .mercator import project_mollweide

# Arrow form of Spark's ARRAY<ARRAY<ARRAY<DOUBLE>>>: polygon -> rings ->
# points -> [lon, lat], list fields named as Spark names them
_POINT_TYPE = pa.list_(pa.field("element", pa.float64()))
_RING_TYPE = pa.list_(pa.field("element", _POINT_TYPE))
RINGS_ARROW_TYPE = pa.list_(pa.field("element", _RING_TYPE))


def as_ring(ring) -> np.ndarray:
    """Coerce a ring from any nesting (list-of-lists, Arrow object ndarray
    of point ndarrays) into a dense (N, 2) float64 array."""
    if isinstance(ring, np.ndarray) and ring.dtype != object and ring.ndim == 2:
        return ring.astype(np.float64, copy=False)
    pts = [np.asarray(p, dtype=np.float64) for p in ring]
    if not pts:
        return np.zeros((0, 2), dtype=np.float64)
    return np.stack(pts)


def rings_from_arrow(arr) -> list:
    """``list<list<list<double>>>`` Arrow array (or chunked array) -> per
    row a list of (N, 2) float64 rings, ``None`` for a NULL row. The one
    ring reader: it walks the list offsets (``.offsets`` honours a slice
    and indexes the whole child), so no point becomes a Python object."""
    if isinstance(arr, pa.ChunkedArray):
        return [p for chunk in arr.chunks for p in rings_from_arrow(chunk)]
    poly_off, ring_off = arr.offsets.to_numpy(), arr.values.offsets.to_numpy()
    pts = arr.values.values
    start = pts.offsets.to_numpy()[:-1]
    coords = pts.values.to_numpy(zero_copy_only=False)
    xy = np.column_stack([coords[start], coords[start + 1]])
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return [
        [xy[ring_off[j] : ring_off[j + 1]] for j in range(poly_off[i], poly_off[i + 1])]
        if valid[i] else None
        for i in range(len(arr))
    ]


def rings_to_arrow(polys) -> pa.Array:
    """Per row a list of rings (anything :func:`as_ring` takes) or ``None``
    -> ``list<list<list<double>>>`` Arrow array; the one ring writer."""
    rows = [None if p is None else [as_ring(r)[:, :2] for r in p] for p in polys]
    rings = [r for row in rows if row for r in row]

    def lists(counts, values, type_, mask=None):
        offsets = np.concatenate([[0], np.cumsum(counts, dtype=np.int64)]).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets), values, type=type_, mask=mask)

    coords = np.concatenate([r.ravel() for r in rings]) if rings else np.zeros(0)
    points = lists(np.full(len(coords) // 2, 2), pa.array(coords, pa.float64()), _POINT_TYPE)
    return lists(
        [len(row or ()) for row in rows],
        lists([len(r) for r in rings], points, _RING_TYPE),
        RINGS_ARROW_TYPE,
        mask=pa.array([row is None for row in rows], pa.bool_()),
    )


def close_ring(ring: np.ndarray) -> np.ndarray:
    """Append the first point if the ring is not closed.

    Parity with /root/reference/robosat/features/core.py:59-61."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) == 0 or np.array_equal(ring[0], ring[-1]):
        return ring
    return np.vstack([ring, ring[:1]])


def open_ring(ring: np.ndarray) -> np.ndarray:
    """Drop the duplicated closing point if present."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        return ring[:-1]
    return ring


def signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area; positive = counter-clockwise."""
    r = open_ring(ring)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def is_ccw(ring: np.ndarray) -> bool:
    return signed_area(ring) > 0.0


def orient(ring: np.ndarray, ccw: bool = True) -> np.ndarray:
    """Force ring winding. Parity with ``polygon.orient(sign=1.0)``
    (/root/reference/robosat/tools/merge.py:68-73)."""
    if is_ccw(ring) != ccw:
        return np.ascontiguousarray(ring[::-1])
    return np.asarray(ring, dtype=np.float64)


def ring_bbox(ring: np.ndarray):
    r = np.asarray(ring, dtype=np.float64)
    return float(r[:, 0].min()), float(r[:, 1].min()), float(r[:, 0].max()), float(r[:, 1].max())


def bbox_intersects(a, b) -> bool:
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd (crossing number) point-in-polygon test.

    Many points against one ring: O(P*E), evaluated in point blocks so the
    (block x edges) temporaries stay cache-resident instead of streaming
    P*E*8-byte matrices through DRAM — at 32 cores the unblocked form is
    memory-bandwidth-bound and stops scaling. A bbox pre-cull skips the
    edge loop for points that cannot be inside. Points exactly on an edge
    may land either side (consistent with shapely's boundary fuzz — the
    reference never relies on boundary points)."""
    r = open_ring(ring)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = px.shape[0]
    out = np.zeros(n, dtype=bool)
    if n == 0 or len(r) < 3:
        return out

    # bbox pre-cull (cheap O(P); the filter half of filter-refine)
    minx, miny = r[:, 0].min(), r[:, 1].min()
    maxx, maxy = r[:, 0].max(), r[:, 1].max()
    cand = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
    idx = np.nonzero(cand)[0]
    if idx.size == 0:
        return out

    x1 = r[:, 0][None, :]
    y1 = r[:, 1][None, :]
    x2 = np.roll(r[:, 0], -1)[None, :]
    y2 = np.roll(r[:, 1], -1)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_dy = (x2 - x1) / (y2 - y1)

    block = 1024
    for s in range(0, idx.size, block):
        sel = idx[s : s + block]
        bx = px[sel][:, None]
        by = py[sel][:, None]
        straddle = (y1 > by) != (y2 > by)
        with np.errstate(invalid="ignore"):
            xint = x1 + (by - y1) * inv_dy
        crossings = np.sum(straddle & (bx < xint), axis=1)
        out[sel] = (crossings % 2) == 1
    return out


def points_in_polygon(px, py, rings) -> np.ndarray:
    """PIP for a polygon with holes: inside exterior, outside every hole."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def simplify_dp(ring: np.ndarray, epsilon: float, closed: bool = True) -> np.ndarray:
    """Douglas-Peucker polyline simplification, iterative stack form.

    Replaces ``cv2.approxPolyDP(contour, eps, closed=True)``
    (/root/reference/robosat/features/core.py:112-124, where
    eps = simplify * arcLength). For closed rings the input is treated as
    open vertex list; output is open (caller closes)."""
    pts = open_ring(ring) if closed else np.asarray(ring, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        seg_len = np.hypot(seg[0], seg[1])
        mid = pts[i + 1 : j]
        if seg_len < 1e-300:
            d = np.hypot(mid[:, 0] - pts[i][0], mid[:, 1] - pts[i][1])
        else:
            d = np.abs(np.cross(seg, mid - pts[i])) / seg_len
        k = int(np.argmax(d))
        if d[k] > epsilon:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    out = pts[keep]
    if closed and len(out) >= 2 and np.array_equal(out[0], out[-1]):
        out = out[:-1]
    return out


def arc_length(ring: np.ndarray, closed: bool = True) -> float:
    """Perimeter; matches ``cv2.arcLength(..., closed=True)`` semantics."""
    r = close_ring(ring) if closed else np.asarray(ring, dtype=np.float64)
    if len(r) < 2:
        return 0.0
    d = np.diff(r, axis=0)
    return float(np.sum(np.hypot(d[:, 0], d[:, 1])))


def rings_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """Exact polygon-intersects test (edge crossing or containment).

    The refine step of the filter-refine spatial join
    (/root/reference/robosat/tools/merge.py:52-55). Vectorized edge-pair
    straddle test, falling back to containment checks."""
    ra, rb = open_ring(a), open_ring(b)
    if len(ra) < 3 or len(rb) < 3:
        return False
    if not bbox_intersects(ring_bbox(ra), ring_bbox(rb)):
        return False
    a1 = ra
    a2 = np.roll(ra, -1, axis=0)
    b1 = rb
    b2 = np.roll(rb, -1, axis=0)
    # cross((a2-a1), (q-a1)) sign for every (edgeA, pointB) pair
    def cross_sign(p1, p2, q):
        d = p2 - p1  # (E,2)
        v = q[None, :, :] - p1[:, None, :]  # (E,Q,2)
        return d[:, None, 0] * v[:, :, 1] - d[:, None, 1] * v[:, :, 0]

    sa_b1 = cross_sign(a1, a2, b1)
    sa_b2 = cross_sign(a1, a2, b2)
    sb_a1 = cross_sign(b1, b2, a1)
    sb_a2 = cross_sign(b1, b2, a2)
    straddleA = (sa_b1 * sa_b2) < 0  # (Ea, Eb): edgeB endpoints straddle edgeA line
    straddleB = (sb_a1 * sb_a2) < 0  # (Eb, Ea)
    if np.any(straddleA & straddleB.T):
        return True
    # No proper crossing: containment (either fully inside the other).
    if points_in_ring(ra[:1, 0], ra[:1, 1], rb)[0]:
        return True
    if points_in_ring(rb[:1, 0], rb[:1, 1], ra)[0]:
        return True
    return False


def clip_half_plane(pts, cnt, a, edge):
    """One Sutherland-Hodgman step for T polygons at once: keep the part of
    polygon t (its first ``cnt[t]`` points of ``pts``, (T, M, 2)) left of
    the directed line through a[t] along edge[t]. -> (points, counts),
    same layout. The engine's one half-plane clip."""
    t_n, m_n = cnt.shape[0], pts.shape[1]
    m = np.arange(m_n)
    live = m < cnt[:, None]
    prev_i = np.where(m > 0, m - 1, cnt[:, None] - 1).clip(0)
    side = edge[:, 0:1] * (pts[:, :, 1] - a[:, 1:2]) - edge[:, 1:2] * (pts[:, :, 0] - a[:, 0:1])
    side_prev = np.take_along_axis(side, prev_i, axis=1)
    prev = np.take_along_axis(pts, prev_i[:, :, None], axis=1)
    cur_in, prev_in = side >= 0, side_prev >= 0
    denom = side - side_prev
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(np.abs(denom) > 1e-300, -side_prev / denom, 0.0)
    cross_pt = prev + t[:, :, None] * (pts - prev)
    # per input point: the edge crossing into/out of the plane, then the point
    out = np.stack([cross_pt, pts], axis=2).reshape(t_n, 2 * m_n, 2)
    keep = np.stack([(cur_in != prev_in) & live, cur_in & live], axis=2).reshape(t_n, 2 * m_n)
    cnt = keep.sum(axis=1)
    order = np.argsort(~keep, axis=1, kind="stable")[:, : max(int(cnt.max()), 1)]
    return np.take_along_axis(out, order[:, :, None], axis=1), cnt


def clip_convex(subject: np.ndarray, clipper: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip (possibly concave) subject by CONVEX clipper,
    one :func:`clip_half_plane` step per clipper edge."""
    clipper = orient(open_ring(clipper), ccw=True)
    pts = open_ring(subject)[None]
    cnt = np.array([len(pts[0])])
    for a, b in zip(clipper, np.roll(clipper, -1, axis=0)):
        if cnt[0] == 0:
            break
        pts, cnt = clip_half_plane(pts, cnt, a[None], (b - a)[None])
    return pts[0, : cnt[0]]


def is_convex(ring) -> bool:
    """True iff the ring is convex (all edge-turn cross products share a
    sign; collinear vertices allowed). Degenerate rings (<3 distinct
    points) are not convex."""
    r = open_ring(as_ring(ring))
    if len(r) < 3:
        return False
    e = np.roll(r, -1, axis=0) - r
    e2 = np.roll(e, -1, axis=0)
    cross = e[:, 0] * e2[:, 1] - e[:, 1] * e2[:, 0]
    return not (np.any(cross > 0.0) and np.any(cross < 0.0))


def triangulate(ring) -> list | None:
    """Ear-clipping triangulation of a SIMPLE ring (no self-intersection;
    concave fine) -> list of (3, 2) triangle arrays partitioning the
    polygon, or None if the clipper deadlocks on a degenerate input
    (caller falls back to the raster path). Each step clips the first ear
    in ring order: a convex corner whose triangle holds no other remaining
    vertex (edges inclusive), tested for a block of corners at once."""
    p = orient(open_ring(as_ring(ring)), ccw=True)
    if len(p) < 3:
        return None
    tris = []
    while len(p) > 3:
        ear = _first_ear(p)
        if ear is None:
            return None  # no ear found: degenerate geometry
        tris.append(p[[ear - 1, ear, (ear + 1) % len(p)]])
        p = np.delete(p, ear, axis=0)
    tris.append(p)
    return tris


# ring-position offsets of an ear's edge starts (b, c, a) and ends (a, b, c)
# from its corner b, for the barycentric edges b->a, c->b, a->c
_EAR_EDGES = np.array([[0, 1, -1], [-1, 0, 1]])[:, :, None]


def _first_ear(p: np.ndarray) -> int | None:
    """Position of the first ear corner of the (n, 2) ring ``p``, or None.
    Corners are tested in blocks that double in size: the first corner is
    usually an ear, and each test costs O(block x n)."""
    n = len(p)
    x, y = p[:, 0], p[:, 1]
    s, block = 0, 1
    while s < n:
        k = np.arange(s, min(s + block, n))
        s, block = s + block, 2 * block
        at = (k + _EAR_EDGES) % n
        u, v = p[at]  # (3, corners, 2) each
        a, b, c = v
        cross = (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0])
        convex = cross > 0.0
        if not convex.any():  # reflex or collinear corners are no ears
            continue
        # barycentric sign of every vertex against each edge of each
        # candidate; on an edge counts as inside, so it blocks
        ux, uy, vx, vy = u[..., 0, None], u[..., 1, None], v[..., 0, None], v[..., 1, None]
        d = (x - ux) * (vy - uy) - (vx - ux) * (y - uy)
        blocked = ~((d < 0).any(axis=0) & (d > 0).any(axis=0))
        blocked[np.arange(len(k)), at[1]] = False  # its own three corners
        ear = convex & ~blocked.any(axis=1)
        if ear.any():
            return int(k[ear.argmax()])
    return None


def intersection_area(ring_a, ring_b) -> float | None:
    """EXACT area of the intersection of two SIMPLE rings (either may be
    concave): triangulate B into a partition and clip A by all T (convex)
    triangles together, Sutherland-Hodgman on a padded (T, M, 2) array
    (three half-plane steps, each compacting the surviving points in
    order), then sum the clipped areas. Exact arithmetic: the partition
    makes the per-triangle intersections disjoint, and a convex clipper
    keeps SH exact even for a concave subject. Each triangle's points are
    those :func:`clip_convex` gives. Returns None when triangulation
    deadlocks (caller falls back to raster)."""
    a = orient(open_ring(as_ring(ring_a)), ccw=True)
    b = open_ring(as_ring(ring_b))
    if len(a) < 3 or len(b) < 3:
        return 0.0
    tris = triangulate(b)
    if tris is None:
        return None
    a = open_ring(a)  # as clip_convex takes its subject
    tri = np.stack(tris)
    # clip_convex orients each clipper counter-clockwise
    x, y = tri[:, :, 0], tri[:, :, 1]
    cw = (x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y).sum(axis=1) <= 0.0
    tri[cw] = tri[cw, ::-1]
    pts = np.broadcast_to(a, (len(tri), len(a), 2))
    cnt = np.full(len(tri), len(a))
    for e in range(3):
        pts, cnt = clip_half_plane(pts, cnt, tri[:, e], tri[:, (e + 1) % 3] - tri[:, e])
    m = np.arange(pts.shape[1])
    nxt = np.where(m + 1 < cnt[:, None], m + 1, 0)
    x, y = pts[:, :, 0], pts[:, :, 1]
    xn, yn = np.take_along_axis(x, nxt, axis=1), np.take_along_axis(y, nxt, axis=1)
    area = 0.5 * np.where(m < cnt[:, None], x * yn - xn * y, 0.0).sum(axis=1)
    return float(np.maximum(area[cnt >= 3], 0.0).sum())


def exact_iou(rings_a, rings_b) -> float | None:
    """EXACT IoU of two simple polygons-with-holes in the equal-area
    Mollweide domain (same projection as :func:`raster_iou_multi` —
    reference parity with robosat/spatial/core.py:56-77). Hole handling is
    inclusion-exclusion: |A∩B| = |eA∩eB| - Σ|eA∩hB| - Σ|hA∩eB| + Σ|hA∩hB|
    (holes lie inside their exteriors and are disjoint — the contour
    tracer guarantees that shape). Returns None on degenerate
    triangulation; callers fall back to the supersampled raster IoU
    (cross-checked within 0.02 in tests)."""
    pa, pb = _mollweide(rings_a), _mollweide(rings_b)
    if not pa or not pb:
        return 0.0
    # recenter on a shared local origin: projected coordinates are ~1e7 m
    # while areas are ~1e4 m², so the shoelace would lose ~8 digits
    origin = pa[0].mean(axis=0)
    pa = [r - origin for r in pa]
    pb = [r - origin for r in pb]

    def inter(sa, sb, sign):
        tot = 0.0
        for ra in sa:
            for rb in sb:
                v = intersection_area(ra, rb)
                if v is None:
                    return None
                tot += v
        return sign * tot

    terms = [
        inter(pa[:1], pb[:1], 1.0),
        inter(pa[:1], pb[1:], -1.0),
        inter(pa[1:], pb[:1], -1.0),
        inter(pa[1:], pb[1:], 1.0),
    ]
    if any(t is None for t in terms):
        return None
    inter_area = sum(terms)
    area_a = abs(signed_area(pa[0])) - sum(abs(signed_area(h)) for h in pa[1:])
    area_b = abs(signed_area(pb[0])) - sum(abs(signed_area(h)) for h in pb[1:])
    union = area_a + area_b - inter_area
    if union <= 0.0:
        return 0.0
    iou = inter_area / union
    assert -1e-9 <= iou <= 1.0 + 1e-9, iou
    return float(min(max(iou, 0.0), 1.0))


def raster_iou_multi(polys_a, polys_b, resolution: int = 512) -> float:
    """IoU between two *sets* of polygons-with-holes (each side a union)
    via a supersampled pixel-centre grid in Mollweide; two polygons are
    ``raster_iou_multi([a], [b])``.

    General-polygon ``intersection.area / union.area`` replacement for
    /root/reference/robosat/spatial/core.py:56-77 (which projects through an
    equal-area CRS first), over the dedupe join's union-of-matches
    (/root/reference/robosat/tools/dedupe.py:61: union of intersecting OSM
    shapes before a single IoU). Bounded error ~ O(1/resolution); the
    reference only thresholds IoU and asserts it lies in [0, 1], so bounded
    error is acceptable (SURVEY.md §7)."""
    pa = [p for p in map(_mollweide, polys_a) if p]
    pb = [p for p in map(_mollweide, polys_b) if p]
    if not pa or not pb:
        return 0.0
    allr = [p[0] for p in pa] + [p[0] for p in pb]
    minx = min(ring_bbox(r)[0] for r in allr)
    miny = min(ring_bbox(r)[1] for r in allr)
    maxx = max(ring_bbox(r)[2] for r in allr)
    maxy = max(ring_bbox(r)[3] for r in allr)
    if maxx <= minx or maxy <= miny:
        return 0.0
    xs = np.linspace(minx, maxx, resolution, endpoint=False) + (maxx - minx) / resolution / 2
    ys = np.linspace(miny, maxy, resolution, endpoint=False) + (maxy - miny) / resolution / 2
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()

    def union_mask(polys):
        m = np.zeros(gx.shape[0], dtype=bool)
        for rings in polys:
            m |= points_in_polygon(gx, gy, rings)
        return m

    in_a, in_b = union_mask(pa), union_mask(pb)
    union = np.count_nonzero(in_a | in_b)
    if union == 0:
        return 0.0
    iou = np.count_nonzero(in_a & in_b) / union
    assert 0.0 <= iou <= 1.0
    return float(iou)


def polygon_area_m2(ring: np.ndarray) -> float:
    """Equal-area (Mollweide) polygon area in m², rounded like the reference.

    Parity with /root/reference/robosat/tools/merge.py:78-81 (shapely area
    in an equal-area projection, ``int(round(area))`` property)."""
    rings = _mollweide([ring])
    return abs(signed_area(rings[0])) if rings else 0.0


def _mollweide(rings) -> list:
    """Rings in lon/lat -> open (N, 2) rings in ESRI:54009 Mollweide
    metres (the reference's equal-area domain), rings of fewer than 3
    vertices dropped. Each ring is projected on its own: the Newton solve
    runs until all points of its call converge."""
    out = []
    for r in rings:
        r = open_ring(as_ring(r))
        if len(r) >= 3:
            x, y = project_mollweide(r[:, 0], r[:, 1])
            out.append(np.column_stack([x, y]))
    return out
