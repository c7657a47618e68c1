"""Raster kernels: polygon burn, morphology, contour tracing, tile cover.

From-scratch NumPy replacements for:
  * ``rasterio.features.rasterize``  (/root/reference/robosat/tools/rasterize.py:64-83)
  * ``cv2.morphologyEx`` open/close  (/root/reference/robosat/features/core.py:65-92)
  * ``cv2.findContours`` RETR_TREE + CHAIN_APPROX_SIMPLE
                                     (/root/reference/robosat/features/core.py:95-108)
  * ``supermercado.burntiles.burn``  (/root/reference/robosat/tools/cover.py:30)

Grids are uint8 ndarrays shaped (h, w), row 0 = top (image convention).
"""

from __future__ import annotations

import numpy as np

from .geometry import open_ring
from .mercator import lonlat_to_tile_f



def rasterize_rings(rings, width: int, height: int, transform) -> np.ndarray:
    """Even-odd scanline burn of a polygon-with-holes onto a (h, w) grid.

    ``transform`` maps world (x, y) -> pixel (col_f, row_f); a pixel is set
    when its center lies inside (rasterio all_touched=False default, which
    is what the reference's burn uses). Holes toggle off because the edges
    of every ring feed one even-odd fill (:func:`_even_odd_fill`)."""
    polys = []
    for ring in rings:
        r = open_ring(np.asarray(ring, dtype=np.float64))
        if len(r) < 3:
            continue
        cx, cy = transform(r[:, 0], r[:, 1])
        polys.append(np.column_stack([cx, cy]))
    cols = np.arange(width, dtype=np.float64) + 0.5
    rows = np.arange(height, dtype=np.float64) + 0.5
    return _even_odd_fill(polys, cols, rows).view(np.uint8)


def _even_odd_fill(polys, cols: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """(len(rows), len(cols)) bool grid: is sample (cols[j], rows[i])
    inside the even-odd union of the (N, 2) rings ``polys``? ``cols``
    ascends.

    Scanline form of the crossing-number test: a sample toggles once for
    every edge that straddles its row (``(b > py) != (d > py)``) and
    crosses it to the right (``px < xint``). Per (row, edge) the crossing
    ``xint`` is computed with the per-sample formula, the first column
    with ``px >= xint`` comes from ``searchsorted``, and an XOR
    accumulate along the row turns the toggles into the fill, so the
    result is bit-identical to testing every sample against every edge."""
    out = np.zeros((len(rows), len(cols)), dtype=bool)
    edges = [np.zeros((0, 4))]
    for p in polys:
        x1, y1 = p[:, 0], p[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        valid = y2 != y1  # horizontal edges never straddle a scan level
        edges.append(np.column_stack([x1[valid], y1[valid], x2[valid], y2[valid]]))
    a, b, c, d = np.concatenate(edges).T
    w = len(cols)
    if a.size == 0 or w == 0:
        return out
    chunk = max(1, 2_000_000 // a.size)  # bound the (rows x edges) temporaries
    for r0 in range(0, len(rows), chunk):
        py = rows[r0 : r0 + chunk, None]
        straddle = (b > py) != (d > py)
        ri, ei = np.nonzero(straddle)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = a[ei] + (py[ri, 0] - b[ei]) * (c[ei] - a[ei]) / (d[ei] - b[ei])
        hit = ~np.isnan(xint)  # px < NaN is false: no toggle
        ri, k = ri[hit], np.searchsorted(cols, xint[hit], "left")
        # edge toggles columns [0, k): flip at 0 and at k, then XOR-scan
        n = len(py)
        toggles = np.bincount(ri * (w + 1) + k, minlength=n * (w + 1)).reshape(n, w + 1)
        toggles[:, 0] += np.bincount(ri, minlength=n)
        out[r0 : r0 + n] = np.bitwise_xor.accumulate(toggles[:, :w] & 1, axis=1).astype(bool)
    return out


def disk_offsets(size: int) -> np.ndarray:
    """Offsets of an elliptical (disk) structuring element of given size.

    Stands in for ``cv2.getStructuringElement(MORPH_ELLIPSE, (size, size))``
    used by denoise/grow (/root/reference/robosat/features/core.py:65-92)."""
    size = max(int(size), 1)
    r = (size - 1) / 2.0
    dy, dx = np.mgrid[-int(np.floor(r)) : int(np.floor(r)) + 1, -int(np.floor(r)) : int(np.floor(r)) + 1]
    if r <= 0:
        return np.array([[0, 0]], dtype=np.int64)
    keep = (dx / max(r, 1e-9)) ** 2 + (dy / max(r, 1e-9)) ** 2 <= 1.0 + 1e-9
    return np.column_stack([dy[keep], dx[keep]]).astype(np.int64)


def _shift_or(mask: np.ndarray, offsets: np.ndarray, reduce_or: bool) -> np.ndarray:
    h, w = mask.shape
    if reduce_or:
        out = np.zeros_like(mask, dtype=bool)
    else:
        out = np.ones_like(mask, dtype=bool)
    src = mask.astype(bool)
    for dy, dx in offsets:
        shifted = np.zeros_like(src) if reduce_or else np.zeros_like(src)
        ys0, ys1 = max(0, -dy), min(h, h - dy)
        xs0, xs1 = max(0, -dx), min(w, w - dx)
        yd0, yd1 = max(0, dy), min(h, h + dy)
        xd0, xd1 = max(0, dx), min(w, w + dx)
        shifted[yd0:yd1, xd0:xd1] = src[ys0:ys1, xs0:xs1]
        if reduce_or:
            out |= shifted
        else:
            out &= shifted
    return out


def dilate(mask: np.ndarray, size: int) -> np.ndarray:
    return _shift_or(mask, disk_offsets(size), reduce_or=True).astype(mask.dtype)


def erode(mask: np.ndarray, size: int) -> np.ndarray:
    # Border handling: pixels whose element exits the image are eroded
    # (treat outside as 0), matching cv2's default BORDER_CONSTANT(0) effect
    # for binary masks.
    return _shift_or(mask, -disk_offsets(size), reduce_or=False).astype(mask.dtype)


def morph_open(mask: np.ndarray, size: int) -> np.ndarray:
    """Denoise: erosion then dilation (/root/reference/robosat/features/core.py:65-77)."""
    return dilate(erode(mask, size), size)


def morph_close(mask: np.ndarray, size: int) -> np.ndarray:
    """Grow: dilation then erosion (/root/reference/robosat/features/core.py:80-92)."""
    return erode(dilate(mask, size), size)


# ---------------------------------------------------------------------------
# Contour tracing: Suzuki-Abe border following with full hierarchy,
# CHAIN_APPROX_SIMPLE-style collinear compression.
# ---------------------------------------------------------------------------

# Moore neighborhood, counter-clockwise from east: (drow, dcol)
_NBR = np.array(
    [(0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1), (1, 0), (1, 1)],
    dtype=np.int64,
)
_DIR_OF = {(int(d[0]), int(d[1])): i for i, d in enumerate(_NBR)}


def find_contours(mask: np.ndarray):
    """Binary mask -> (contours, hierarchy) like cv2.findContours RETR_TREE.

    Returns ``contours`` as a list of (N, 2) int arrays in (x=col, y=row)
    order, and ``hierarchy`` as a list of dicts
    ``{"parent": idx|-1, "is_hole": bool}``. Outer borders of connected
    components and hole borders are both traced; nesting gives the tree the
    parking handler walks (/root/reference/robosat/features/core.py:95-153).

    Suzuki-Abe's raster scan visits, in raster order, only the nonzero
    pixels with a zero among their 8 neighbours. The scan is still exact:
    a pixel whose 8 neighbours are all nonzero has nonzero left and right
    neighbours, so it starts no border, and the border follower only
    stands on pixels next to the zero region it circles, so it keeps the
    value 1 and never changes LNBD. Zeros are never relabelled, so the set
    is found once, up front.
    """
    h, w = mask.shape
    f = np.zeros((h + 2, w + 2), dtype=np.int32)
    f[1:-1, 1:-1] = (np.asarray(mask) != 0).astype(np.int32)

    nz = f != 0
    interior = np.ones((h, w), dtype=bool)
    for di, dj in _NBR:
        interior &= nz[1 + di : h + 1 + di, 1 + dj : w + 1 + dj]
    scan_i, scan_j = np.nonzero(nz[1:-1, 1:-1] & ~interior)

    contours = []
    info = []  # per NBD (from 2): {"is_hole", "parent_nbd"}
    nbd = 1  # frame counts as NBD 1, a hole border
    nbd_is_hole = {1: True}
    nbd_parent = {1: 0}

    i = 0
    for si, j in zip((scan_i + 1).tolist(), (scan_j + 1).tolist()):
        if si != i:  # LNBD restarts on each row
            i, lnbd, row = si, 1, f[si]
        fij = row[j]
        outer = fij == 1 and row[j - 1] == 0
        hole = fij >= 1 and row[j + 1] == 0
        if outer or hole:
            nbd += 1
            if hole:
                start_dir = 0  # neighbor to the right
                if fij > 1:
                    lnbd = fij
            else:
                start_dir = 4  # neighbor to the left
            is_hole = hole
            # parent from LNBD per Suzuki-Abe table 1
            if nbd_is_hole[lnbd] == is_hole:
                parent = nbd_parent[lnbd]
            else:
                parent = lnbd
            nbd_is_hole[nbd] = is_hole
            nbd_parent[nbd] = parent

            pts = _follow_border(f, i, j, start_dir, nbd)
            contours.append(pts)
            # Suzuki-Abe step 1: the outer test wins, so a one-pixel
            # apex start is an outer border (the NBD bookkeeping above
            # still files it as a hole; the pinned raster digest
            # depends on the parents that gives)
            info.append({"parent": parent, "is_hole": is_hole and not outer})
        if row[j] != 1:
            lnbd = abs(row[j])

    # remap parent NBD ids (2-based) to contour list indices; frame -> -1
    out_h = []
    for item in info:
        p = item["parent"]
        out_h.append({"parent": p - 2 if p >= 2 else -1, "is_hole": item["is_hole"]})
    # convert to (x, y) with padding removed + compress collinear runs
    out_c = [_approx_simple(np.column_stack([p[:, 1] - 1, p[:, 0] - 1])) for p in contours]
    return out_c, out_h


def _follow_border(f, i, j, start_dir, nbd):
    """Trace one border from (i, j); marks f in place; returns (N,2) rows/cols."""
    # 3.1: clockwise search from start_dir for first nonzero neighbor
    found = -1
    for k in range(8):
        d = (start_dir - k) % 8
        ni, nj = i + _NBR[d][0], j + _NBR[d][1]
        if f[ni, nj] != 0:
            found = d
            break
    if found == -1:
        f[i, j] = -nbd
        return np.array([[i, j]], dtype=np.int64)
    i1, j1 = i + _NBR[found][0], j + _NBR[found][1]
    i2, j2 = i1, j1
    i3, j3 = i, j
    path = [(i, j)]
    while True:
        # 3.3: counter-clockwise search from the position after (i2,j2)
        d2 = _DIR_OF[(i2 - i3, j2 - j3)]
        examined_right_zero = False
        nd = -1
        for k in range(1, 9):
            d = (d2 + k) % 8
            ni, nj = i3 + _NBR[d][0], j3 + _NBR[d][1]
            if f[ni, nj] != 0:
                nd = d
                break
            if d == 0:  # (i3, j3+1) examined and zero
                examined_right_zero = True
        i4, j4 = i3 + _NBR[nd][0], j3 + _NBR[nd][1]
        # 3.4: marking
        if examined_right_zero:
            f[i3, j3] = -nbd
        elif f[i3, j3] == 1:
            f[i3, j3] = nbd
        # 3.5: termination
        if (i4, j4) == (i, j) and (i3, j3) == (i1, j1):
            break
        i2, j2 = i3, j3
        i3, j3 = i4, j4
        path.append((i3, j3))
    return np.asarray(path, dtype=np.int64)


def _approx_simple(pts: np.ndarray) -> np.ndarray:
    """Drop interior points of straight runs (CHAIN_APPROX_SIMPLE analog)."""
    n = len(pts)
    if n <= 2:
        return pts
    prev_d = pts - np.roll(pts, 1, axis=0)
    next_d = np.roll(pts, -1, axis=0) - pts
    keep = (prev_d[:, 0] * next_d[:, 1] - prev_d[:, 1] * next_d[:, 0] != 0) | np.any(
        np.sign(prev_d) != np.sign(next_d), axis=1
    )
    if not np.any(keep):
        keep[0] = True
    return pts[keep]


# ---------------------------------------------------------------------------
# Tile cover (supermercado burn analog)
# ---------------------------------------------------------------------------


def cover_rings(rings, zoom: int) -> np.ndarray:
    """All z-level tiles intersecting a polygon -> (N, 2) array of (x, y).

    supermercado.burntiles.burn analog (/root/reference/robosat/tools/cover.py:30,
    rasterize.py:113): tiles whose square intersects the polygon = tiles
    crossed by any ring edge (grid supercover walk) plus tiles whose center
    is inside (even-odd interior fill). Exact for 'intersects' semantics.
    """
    n = 1 << zoom
    edge_tiles = set()
    polys = []
    for ring in rings:
        r = open_ring(np.asarray(ring, dtype=np.float64))
        if len(r) < 3:
            continue
        tx, ty = lonlat_to_tile_f(r[:, 0], r[:, 1], zoom)
        poly = np.column_stack([tx, ty])
        polys.append(poly)
        # vectorized fast path (r7): an edge whose endpoints share a cell
        # floor cannot leave that (convex) cell, so it contributes exactly
        # that one cell — only boundary-crossing edges need the per-edge
        # Amanatides-Woo walk (at high zoom almost every edge of a dense
        # ring is intra-cell; the walk was ~2 ms/feature of driver time)
        fx = np.floor(poly[:, 0]).astype(np.int64)
        fy = np.floor(poly[:, 1]).astype(np.int64)
        gx, gy = np.roll(fx, -1), np.roll(fy, -1)
        same = (fx == gx) & (fy == gy)
        inb = (fx >= 0) & (fx < n) & (fy >= 0) & (fy < n)
        keep = same & inb
        edge_tiles.update(zip(fx[keep].tolist(), fy[keep].tolist()))
        for k in np.nonzero(~same)[0].tolist():
            a = poly[k]
            b = poly[(k + 1) % len(poly)]
            for cell in _supercover(a, b):
                cx, cy = cell
                if 0 <= cx < n and 0 <= cy < n:
                    edge_tiles.add((cx, cy))
    if not polys:
        return np.zeros((0, 2), dtype=np.int64)
    allpts = np.vstack(polys)
    x0 = max(0, int(np.floor(allpts[:, 0].min())))
    x1 = min(n - 1, int(np.floor(allpts[:, 0].max())))
    y0 = max(0, int(np.floor(allpts[:, 1].min())))
    y1 = min(n - 1, int(np.floor(allpts[:, 1].max())))
    inner = set()
    if x1 >= x0 and y1 >= y0:
        cx = np.arange(x0, x1 + 1, dtype=np.float64) + 0.5
        cy = np.arange(y0, y1 + 1, dtype=np.float64) + 0.5
        iy, ix = np.nonzero(_even_odd_fill(polys, cx, cy))
        inner.update(zip((ix + x0).tolist(), (iy + y0).tolist()))
    tiles = sorted(edge_tiles | inner)
    return np.asarray(tiles, dtype=np.int64).reshape(-1, 2)


def _supercover(a, b):
    """All integer grid cells a segment passes through (Amanatides-Woo walk)."""
    x0, y0 = float(a[0]), float(a[1])
    x1, y1 = float(b[0]), float(b[1])
    cx, cy = int(np.floor(x0)), int(np.floor(y0))
    ex, ey = int(np.floor(x1)), int(np.floor(y1))
    cells = [(cx, cy)]
    dx, dy = x1 - x0, y1 - y0
    sx = 1 if dx > 0 else -1
    sy = 1 if dy > 0 else -1
    if dx != 0:
        tdx = abs(1.0 / dx)
        nx_edge = cx + (1 if sx > 0 else 0)
        tmax_x = abs((nx_edge - x0) / dx) if dx != 0 else np.inf
    else:
        tdx, tmax_x = np.inf, np.inf
    if dy != 0:
        tdy = abs(1.0 / dy)
        ny_edge = cy + (1 if sy > 0 else 0)
        tmax_y = abs((ny_edge - y0) / dy) if dy != 0 else np.inf
    else:
        tdy, tmax_y = np.inf, np.inf
    guard = 0
    while (cx, cy) != (ex, ey) and guard < 10_000_000:
        guard += 1
        if tmax_x < tmax_y:
            cx += sx
            tmax_x += tdx
        else:
            cy += sy
            tmax_y += tdy
        cells.append((cx, cy))
    return cells
