"""Polygon / polyline metric buffering, from scratch.

Replaces shapely ``.buffer`` used at:
  * /root/reference/robosat/tools/merge.py:35-45  (grow/shrink polygons by
    a threshold in projected meters before adjacency + union)
  * /root/reference/robosat/osm/road.py:140-142   (LineString -> polygon by
    buffering half the road width)

Strategy (SURVEY.md §7 G5/G6): positive buffer of a simple ring = union of
per-segment offset rectangles + vertex arc joins, assembled by rasterizing
into a fine local grid and tracing the outline back out (the raster-domain
route — robosat itself equates buffer with dilation in mask space,
/root/reference/robosat/features/core.py:80-92). Deterministic, robust for
arbitrary (including concave) input, bounded error = one grid cell.
"""

from __future__ import annotations

import numpy as np

from .geometry import as_ring, clip_half_plane, close_ring, is_convex, open_ring, orient, simplify_dp
from .raster import find_contours, rasterize_rings, dilate, erode


def buffer_ring_exact(ring, dist: float, segments_per_arc: int = 16):
    """EXACT metric buffer of a CONVEX ring (arc joins polygonized).

    Positive ``dist``: the Minkowski-sum boundary — offset edges joined by
    vertex arcs (outward normals of a CCW convex ring rotate monotonically
    CCW, so each vertex arc spans its two adjacent edge normals). Negative
    ``dist``: intersection of the inward-shifted edge half-planes (exact;
    [] when the polygon vanishes). Concave rings are not handled here —
    :func:`buffer_ring` auto-falls back to the raster route for them."""
    r = orient(open_ring(as_ring(ring)), ccw=True)
    if len(r) < 3:
        return []
    if dist < 0:
        pts, cnt = r[None], np.array([len(r)])
        for a, b in zip(r, np.roll(r, -1, axis=0)):
            e = b - a
            length = float(np.hypot(e[0], e[1]))
            if length < 1e-15:
                continue
            inward = np.array([-e[1], e[0]]) / length  # left normal of CCW edge
            pts, cnt = clip_half_plane(pts, cnt, (a + inward * (-dist))[None], e[None])
            if cnt[0] < 3:
                return []
        return [close_ring(pts[0, : cnt[0]])]

    n = len(r)
    edges = np.roll(r, -1, axis=0) - r
    lengths = np.hypot(edges[:, 0], edges[:, 1])
    keep = lengths > 1e-15
    r, edges, lengths = r[keep], edges[keep], lengths[keep]
    n = len(r)
    if n < 3:
        return []
    # outward normal angle of CCW edge e = atan2(-ex, ey)
    theta = np.arctan2(-edges[:, 0], edges[:, 1])
    pts = []
    for i in range(n):
        t_prev = theta[i - 1]
        t_next = theta[i]
        da = (t_next - t_prev) % (2.0 * np.pi)
        k = max(int(np.ceil(da / (2.0 * np.pi) * segments_per_arc)), 1)
        ang = t_prev + da * np.linspace(0.0, 1.0, k + 1)
        pts.append(
            np.column_stack(
                [r[i, 0] + dist * np.cos(ang), r[i, 1] + dist * np.sin(ang)]
            )
        )
    return [close_ring(np.vstack(pts))]


def buffer_ring(ring: np.ndarray, dist: float, resolution: int = 256):
    """Buffer a closed ring by ``dist`` (same units as coords; may be < 0).

    Returns a list of rings (buffering can split a shrunk polygon into
    several, or return [] when it vanishes — mirroring the reference's
    validity-skip of degenerate results, /root/reference/robosat/tools/merge.py:83-84).

    Convex rings take the EXACT vector path (:func:`buffer_ring_exact` —
    no grid, no quantization); concave rings fall back to the raster-domain
    route (dilate/erode on a fine local grid, bounded error = one cell),
    which robosat itself equates with buffering in mask space
    (/root/reference/robosat/features/core.py:80-92)."""
    r = open_ring(np.asarray(ring, dtype=np.float64))
    if len(r) < 3:
        return []
    if is_convex(r):
        return buffer_ring_exact(r, dist)
    minx, miny = r.min(axis=0)
    maxx, maxy = r.max(axis=0)
    pad = abs(dist) * 2.0 + 1e-9
    minx, miny, maxx, maxy = minx - pad, miny - pad, maxx + pad, maxy + pad
    span = max(maxx - minx, maxy - miny, 1e-12)
    cell = span / resolution
    w = max(int(np.ceil((maxx - minx) / cell)), 4)
    h = max(int(np.ceil((maxy - miny) / cell)), 4)

    def transform(x, y):
        return (x - minx) / cell, (maxy - y) / cell  # y-flip: row 0 = top

    grid = rasterize_rings([r], w, h, transform)
    k = int(round(abs(dist) / cell)) * 2 + 1
    if k > 1:
        grid = dilate(grid, k) if dist > 0 else erode(grid, k)
    if not grid.any():
        return []
    contours, hierarchy = find_contours(grid)
    out = []
    for c, meta in zip(contours, hierarchy):
        if meta["is_hole"] or len(c) < 3:
            continue
        # pixel (col,row) -> world; +0.5 to pixel center, y-flip back
        wx = minx + (c[:, 0].astype(np.float64) + 0.5) * cell
        wy = maxy - (c[:, 1].astype(np.float64) + 0.5) * cell
        ring_w = np.column_stack([wx, wy])
        ring_w = simplify_dp(ring_w, cell * 0.75, closed=True)
        if len(ring_w) >= 3:
            out.append(close_ring(orient(ring_w, ccw=True)))
    return out


def buffer_line(points: np.ndarray, width: float, segments_per_arc: int = 8):
    """LineString -> polygon outline buffered by width/2, vector-domain.

    Road-geometry analog of /root/reference/robosat/osm/road.py:140-142.
    Builds the left/right offset sides with round joins sampled at the
    vertices and round caps at the ends; returns one closed ring. Exact for
    non-self-intersecting lines (roads)."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) < 2:
        return None
    r = width / 2.0
    d = np.diff(pts, axis=0)
    seg_len = np.hypot(d[:, 0], d[:, 1])
    keep = seg_len > 1e-15
    if not np.any(keep):
        return None
    d = d[keep]
    seg_len = seg_len[keep]
    pts = np.vstack([pts[:1], pts[1:][keep]])
    nx, ny = d[:, 1] / seg_len, -d[:, 0] / seg_len  # right normals

    def arc(center, a0, a1, rad):
        # sample the short way around from angle a0 to a1; the exact-pi case
        # (end caps) resolves counter-clockwise so caps bulge outward
        da = (a1 - a0) % (2 * np.pi)
        if da > np.pi + 1e-12:
            da -= 2 * np.pi
        ts = np.linspace(0.0, 1.0, segments_per_arc + 1)
        ang = a0 + da * ts
        return np.column_stack([center[0] + rad * np.cos(ang), center[1] + rad * np.sin(ang)])

    left, right = [], []
    m = len(d)
    for i in range(m):
        p0, p1 = pts[i], pts[i + 1]
        n = np.array([nx[i], ny[i]])
        right.append(p0 + r * n)
        right.append(p1 + r * n)
        left.append(p0 - r * n)
        left.append(p1 - r * n)
        if i + 1 < m:
            a0 = np.arctan2(n[1], n[0])
            n2 = np.array([nx[i + 1], ny[i + 1]])
            a1 = np.arctan2(n2[1], n2[0])
            right.append(arc(p1, a0, a1, r)[1:-1].reshape(-1, 2))
            left.append(arc(p1, a0 + np.pi, a1 + np.pi, r)[1:-1].reshape(-1, 2))

    def flat(parts):
        rows = [np.atleast_2d(p) for p in parts]
        return np.vstack(rows)

    right_side = flat(right)
    left_side = flat(left)[::-1]
    # round caps
    end_dir = np.arctan2(d[-1, 1], d[-1, 0])
    cap_end = arc(pts[-1], end_dir - np.pi / 2, end_dir + np.pi / 2, r)
    start_dir = np.arctan2(-d[0, 1], -d[0, 0])
    cap_start = arc(pts[0], start_dir - np.pi / 2, start_dir + np.pi / 2, r)
    ring = np.vstack([right_side, cap_end, left_side, cap_start])
    return close_ring(ring)
