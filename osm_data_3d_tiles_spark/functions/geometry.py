"""Pure numpy geometry kernels.

Each kernel re-implements (from the published algorithm, not by translation) the
semantics of a reference function, cited by file:line into /root/reference/. They are
designed to be called from Arrow pandas UDFs over whole batches — points arrive as
(N, 2) float64 arrays, polygons as small (M, 2) arrays — so the per-row work is
vectorized numpy, never per-row Python on Spark rows.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

import numpy as np

# ---------------------------------------------------------------------------
# Winding / area / centroid
# ---------------------------------------------------------------------------


def signed_area(ring: np.ndarray) -> float:
    """Signed area sum((x2-x1)*(y2+y1)) over closed-or-open ring.

    Semantics of signedArea at reference src/utils/geometry.ts:6-15 (wraps modulo len;
    positive = counter-clockwise under this convention).
    """
    r = np.asarray(ring, dtype=np.float64)
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(r[:, 0], -1), np.roll(r[:, 1], -1)
    return float(np.sum((x2 - x1) * (y2 + y1)))


def is_ring_clockwise(ring: np.ndarray) -> bool:
    """sum((x2-x1)*(y2+y1)) < 0 → clockwise.

    Semantics of isRingClockwise at reference src/ring/ring-helper.ts:3-13.
    """
    return signed_area(ring) < 0


def validate_ring(ring: np.ndarray) -> bool:
    """Closed ring check (first == last). Reference src/ring/ring-helper.ts:16-21."""
    r = np.asarray(ring, dtype=np.float64)
    return bool(r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1])


def ensure_clockwise(ring: np.ndarray) -> np.ndarray:
    """Reverse if signed_area > 0. Reference src/utils/geometry.ts:17-23."""
    r = np.asarray(ring, dtype=np.float64)
    return r[::-1].copy() if signed_area(r) > 0 else r


def ensure_counter_clockwise(ring: np.ndarray) -> np.ndarray:
    """Reverse if signed_area <= 0. Reference src/utils/geometry.ts:24-30.

    (Note the reference's branch returns unchanged when signedArea > 0 — i.e. it
    reverses on <= 0, including degenerate zero-area rings; replicated.)
    """
    r = np.asarray(ring, dtype=np.float64)
    return r if signed_area(r) > 0 else r[::-1].copy()


def polygon_area_signed(ring: np.ndarray) -> float:
    """abs(shoelace)/2. Reference src/building/roof/utils.ts:361-371
    (getPolygonAreaSigned — despite the name it returns the absolute area)."""
    r = np.asarray(ring, dtype=np.float64)
    px, py = np.roll(r[:, 0], 1), np.roll(r[:, 1], 1)
    return float(abs(np.sum(px * r[:, 1] - r[:, 0] * py)) / 2.0)


def polygon_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid with first-point translation for numerical stability.

    Semantics of getPolygonCentroid at reference src/math/utils.ts:3-27.
    """
    r = np.asarray(ring, dtype=np.float64)
    x0, y0 = r[0, 0], r[0, 1]
    xs, ys = r[:, 0] - x0, r[:, 1] - y0
    px, py = np.roll(xs, 1), np.roll(ys, 1)
    a = px * ys - xs * py
    twice_area = float(np.sum(a))
    cx = float(np.sum((px + xs) * a))
    cy = float(np.sum((py + ys) * a))
    factor = 3.0 * twice_area
    return cx / factor + x0, cy / factor + y0


def vertex_mean(ring: np.ndarray) -> tuple[float, float]:
    """Naive vertex-average center (the reference keeps both definitions:
    tile3d-multipolygon.ts:198-211)."""
    r = np.asarray(ring, dtype=np.float64)
    return float(np.mean(r[:, 0])), float(np.mean(r[:, 1]))


# ---------------------------------------------------------------------------
# Point-in-polygon (the spatial-join refinement predicate)
# ---------------------------------------------------------------------------


def points_in_ring(points: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray-cast: (N,2) points vs one (M,2) ring → (N,) bool.

    Semantics of isPointInsidePolygon at reference src/math/utils.ts:29-46
    (the substack/point-in-polygon algorithm), vectorized as an (N, M) numpy
    broadcast so a whole Arrow batch of points tests against a polygon at once.
    """
    pts = np.asarray(points, dtype=np.float64)
    r = np.asarray(ring, dtype=np.float64)
    x = pts[:, 0][:, None]  # (N, 1)
    y = pts[:, 1][:, None]
    xi, yi = r[:, 0][None, :], r[:, 1][None, :]  # (1, M)
    xj, yj = np.roll(r[:, 0], 1)[None, :], np.roll(r[:, 1], 1)[None, :]
    straddle = (yi > y) != (yj > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = (xj - xi) * (y - yi) / (yj - yi) + xi
    crossing = straddle & (x < x_at_y)
    return (np.sum(crossing, axis=1) % 2).astype(bool)


def points_in_polygon(points: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd across all rings (outer + holes): XOR of per-ring parity.

    A point inside the outer ring and inside a hole has even total crossings →
    outside, matching the reference's outer/inner semantics
    (tile3d-multipolygon.ts:357-388 point placement check).
    """
    pts = np.asarray(points, dtype=np.float64)
    inside = np.zeros(len(pts), dtype=bool)
    for ring in rings:
        inside ^= points_in_ring(pts, ring)
    return inside


def ring_edge_table(
    buildings: Iterable[tuple[int, Sequence]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """CSR edge table of (osm_id, rings) pairs → (ids, offsets, edges).

    `ids` are the sorted unique osm_ids (a repeated id keeps its last rings),
    building k's edges are `edges[offsets[k]:offsets[k + 1]]`, and each edge
    row is (xi, yi, xj, yj): vertex i of a ring paired with vertex i-1, the
    orientation `points_in_ring` gets from `np.roll`. All rings of a building
    share one run of edges, since the XOR of per-ring parities is the parity
    of the summed crossings."""
    by_id = dict(buildings)
    ids = np.array(sorted(by_id), dtype=np.int64)
    parts, counts = [], []
    for osm_id in ids:
        n = 0
        for ring in by_id[osm_id]:
            r = np.array([[p[0], p[1]] for p in ring], dtype=np.float64).reshape(-1, 2)
            parts.append(np.column_stack([r, np.roll(r, 1, axis=0)]))
            n += len(r)
        counts.append(n)
    offsets = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    edges = np.concatenate(parts) if parts else np.empty((0, 4), dtype=np.float64)
    return ids, offsets, edges


# (point, edge) pairs one pass of points_in_edge_table materializes at most
# (about 200 MB of temporaries), whatever the batch's buildings hold
EDGE_PAIRS_PER_PASS = 1 << 22


def points_in_edge_table(
    px: np.ndarray,
    py: np.ndarray,
    ids: np.ndarray,
    table: tuple[np.ndarray, np.ndarray, np.ndarray],
) -> np.ndarray:
    """Point k inside building ids[k]? Even-odd ray cast over a `ring_edge_table`.

    Bit-identical to `points_in_polygon(point k, rings of ids[k])`: the same
    per-edge crossing arithmetic in the same order, then the parity of the
    crossing count. An id the table lacks is outside. Rows are taken in runs
    of at most EDGE_PAIRS_PER_PASS (point, edge) pairs."""
    tids, offsets, edges = table
    ids = np.asarray(ids, dtype=np.int64)
    keep = np.zeros(len(ids), dtype=bool)
    if len(ids) == 0 or len(tids) == 0:
        return keep
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    pos = np.minimum(np.searchsorted(tids, ids), len(tids) - 1)
    start = offsets[pos]
    n = np.where(tids[pos] == ids, offsets[pos + 1] - start, 0)
    ends = np.cumsum(n)
    lo = 0
    while lo < len(ids):
        limit = ends[lo] - n[lo] + EDGE_PAIRS_PER_PASS
        hi = max(int(np.searchsorted(ends, limit, "right")), lo + 1)
        keep[lo:hi] = _crossing_parity(px[lo:hi], py[lo:hi], start[lo:hi], n[lo:hi], edges)
        lo = hi
    return keep


def _crossing_parity(px, py, start, n, edges) -> np.ndarray:
    """Odd crossing count of point k over edges[start[k]:start[k] + n[k]]."""
    row = np.repeat(np.arange(len(n)), n)
    e = np.arange(row.size) + np.repeat(start - (np.cumsum(n) - n), n)
    xi, yi, xj, yj = edges[e].T
    x, y = px[row], py[row]
    straddle = (yi > y) != (yj > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = (xj - xi) * (y - yi) / (yj - yi) + xi
    crossing = straddle & (x < x_at_y)
    return np.bincount(row[crossing], minlength=len(n)) % 2 == 1


# ---------------------------------------------------------------------------
# Convex hull + OMBB (rotating calipers)
# ---------------------------------------------------------------------------

_ALMOST_ZERO = 0.00001  # reference src/math/OMBB.ts:101


def _side_of_line(ax, ay, bx, by, px, py) -> int:
    """1=LEFT, 2=RIGHT, 0=ON. Reference src/math/OMBB.ts:103-106."""
    d = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    if d > _ALMOST_ZERO:
        return 1
    if d < -_ALMOST_ZERO:
        return 2
    return 0


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Gift-wrapping convex hull in CW order with the reference's collinearity rule
    (farthest point wins on ties). Semantics of CalcConvexHull, src/math/OMBB.ts:110-147.
    """
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return pts.copy()

    # lexicographic start point: min x, ties (within ALMOST_ZERO) by min y
    start = 0
    for i in range(1, n):
        if pts[i, 0] < pts[start, 0]:
            start = i
        elif abs(pts[i, 0] - pts[start, 0]) < _ALMOST_ZERO and pts[i, 1] < pts[start, 1]:
            start = i

    hull: list[np.ndarray] = []
    hull_pt = pts[start]
    while True:
        hull.insert(0, hull_pt.copy())
        end_pt = pts[0]
        for j in range(1, n):
            side = _side_of_line(hull_pt[0], hull_pt[1], end_pt[0], end_pt[1], pts[j, 0], pts[j, 1])
            d_end = math.hypot(hull_pt[0] - end_pt[0], hull_pt[1] - end_pt[1])
            d_j = math.hypot(hull_pt[0] - pts[j, 0], hull_pt[1] - pts[j, 1])
            if (end_pt[0] == hull_pt[0] and end_pt[1] == hull_pt[1]) or side == 1 or (side == 0 and d_j > d_end):
                end_pt = pts[j]
        hull_pt = end_pt
        if end_pt[0] == hull[-1][0] and end_pt[1] == hull[-1][1]:
            break
    return np.array(hull, dtype=np.float64)


def _intersect_lines(s0, d0, s1, d1):
    dd = d0[0] * d1[1] - d0[1] * d1[0]
    dx, dy = s1[0] - s0[0], s1[1] - s0[1]
    t = (dx * d1[1] - dy * d1[0]) / dd
    return np.array([s0[0] + t * d0[0], s0[1] + t * d0[1]])


def compute_ombb(hull: np.ndarray) -> np.ndarray:
    """Minimum-area enclosing rectangle via rotating calipers over a CW hull.

    Semantics of ComputeOMBB, reference src/math/OMBB.ts:160-290: returns 4 corners
    [upperLeft, bottomLeft, bottomRight, upperRight] of the best box.
    """
    h = np.asarray(hull, dtype=np.float64)
    n = len(h)
    edge_dirs = np.roll(h, -1, axis=0) - h
    edge_dirs /= np.linalg.norm(edge_dirs, axis=1)[:, None]

    left_idx = int(np.argmin(h[:, 0]))
    right_idx = int(np.argmax(h[:, 0]))
    bottom_idx = int(np.argmin(h[:, 1]))
    top_idx = int(np.argmax(h[:, 1]))
    # replicate the reference's strict `<`/`>` scan (first extreme wins)
    min_x = min_y = np.inf
    max_x = max_y = -np.inf
    for i in range(n):
        if h[i, 0] < min_x:
            min_x = h[i, 0]
            left_idx = i
        if h[i, 0] > max_x:
            max_x = h[i, 0]
            right_idx = i
        if h[i, 1] < min_y:
            min_y = h[i, 1]
            bottom_idx = i
        if h[i, 1] > max_y:
            max_y = h[i, 1]
            top_idx = i

    left_dir = np.array([0.0, -1.0])
    right_dir = np.array([0.0, 1.0])
    top_dir = np.array([-1.0, 0.0])
    bottom_dir = np.array([1.0, 0.0])

    best_area = np.inf
    best: np.ndarray | None = None

    def orthogonal(v):
        return np.array([v[1], -v[0]])

    for _ in range(n):
        phis = [
            math.acos(max(-1.0, min(1.0, float(np.dot(left_dir, edge_dirs[left_idx]))))),
            math.acos(max(-1.0, min(1.0, float(np.dot(right_dir, edge_dirs[right_idx]))))),
            math.acos(max(-1.0, min(1.0, float(np.dot(top_dir, edge_dirs[top_idx]))))),
            math.acos(max(-1.0, min(1.0, float(np.dot(bottom_dir, edge_dirs[bottom_idx]))))),
        ]
        smallest = int(np.argmin(phis))
        if smallest == 0:
            left_dir = edge_dirs[left_idx].copy()
            right_dir = -left_dir
            top_dir = orthogonal(left_dir)
            bottom_dir = -top_dir
            left_idx = (left_idx + 1) % n
        elif smallest == 1:
            right_dir = edge_dirs[right_idx].copy()
            left_dir = -right_dir
            top_dir = orthogonal(left_dir)
            bottom_dir = -top_dir
            right_idx = (right_idx + 1) % n
        elif smallest == 2:
            top_dir = edge_dirs[top_idx].copy()
            bottom_dir = -top_dir
            left_dir = orthogonal(bottom_dir)
            right_dir = -left_dir
            top_idx = (top_idx + 1) % n
        else:
            bottom_dir = edge_dirs[bottom_idx].copy()
            top_dir = -bottom_dir
            left_dir = orthogonal(bottom_dir)
            right_dir = -left_dir
            bottom_idx = (bottom_idx + 1) % n

        ul = _intersect_lines(h[left_idx], left_dir, h[top_idx], top_dir)
        ur = _intersect_lines(h[right_idx], right_dir, h[top_idx], top_dir)
        bl = _intersect_lines(h[bottom_idx], bottom_dir, h[left_idx], left_dir)
        br = _intersect_lines(h[bottom_idx], bottom_dir, h[right_idx], right_dir)
        area = math.hypot(*(ul - ur)) * math.hypot(*(ul - bl))
        if area < best_area:
            best_area = area
            best = np.array([ul, bl, br, ur])

    assert best is not None
    return best


# ---------------------------------------------------------------------------
# Grid rasterization (DDA walk + triangle scanline fill)
# ---------------------------------------------------------------------------


def tiles_intersecting_line(ax: float, ay: float, bx: float, by: float) -> list[tuple[int, int]]:
    """Integer grid cells crossed by segment (a→b), DDA walk, 10k-step cap.

    Semantics of getTilesIntersectingLine, reference src/building/roof/utils.ts:373-417.
    """
    x, y = math.floor(ax), math.floor(ay)
    end_x, end_y = math.floor(bx), math.floor(by)
    points = [(x, y)]
    if x == end_x and y == end_y:
        return points

    step_x = _js_sign(bx - ax)
    step_y = _js_sign(by - ay)
    to_x = abs(ax - x - max(0, step_x))
    to_y = abs(ay - y - max(0, step_y))
    v_x = abs(ax - bx)
    v_y = abs(ay - by)
    t_max_x = 0.0 if to_x == 0 else (to_x / v_x if v_x != 0 else math.inf)
    t_max_y = 0.0 if to_y == 0 else (to_y / v_y if v_y != 0 else math.inf)
    t_delta_x = 1.0 / v_x if v_x != 0 else math.inf
    t_delta_y = 1.0 / v_y if v_y != 0 else math.inf

    i = 0
    while not (x == end_x and y == end_y) and i < 10000:
        if t_max_x <= t_max_y:
            t_max_x += t_delta_x
            x += step_x
        else:
            t_max_y += t_delta_y
            y += step_y
        points.append((x, y))
        i += 1
    return points


def _js_sign(v: float) -> int:
    return 0 if v == 0 else (1 if v > 0 else -1)


def tiles_under_triangle(
    triangle: np.ndarray,
    scale_x: float,
    scale_y: float,
    tile_min_x: float = -math.inf,
    tile_min_y: float = -math.inf,
    tile_max_x: float = math.inf,
    tile_max_y: float = math.inf,
) -> list[tuple[int, int]]:
    """Grid cells covered by a triangle: DDA the three edges, then per-row scanline
    fill between the leftmost/rightmost edge cells.

    Semantics of getTilesUnderTriangle, reference src/building/roof/utils.ts:420-476.
    """
    t = np.asarray(triangle, dtype=np.float64)
    pa = (t[0, 0] * scale_x, t[0, 1] * scale_y)
    pb = (t[1, 0] * scale_x, t[1, 1] * scale_y)
    pc = (t[2, 0] * scale_x, t[2, 1] * scale_y)

    edges = (
        tiles_intersecting_line(*pa, *pb)
        + tiles_intersecting_line(*pb, *pc)
        + tiles_intersecting_line(*pc, *pa)
    )
    ys = [c[1] for c in edges]
    min_y, max_y = min(ys), max(ys)

    out: list[tuple[int, int]] = []
    # per-row min/max of edge cells, then fill
    row_min: dict[int, int] = {}
    row_max: dict[int, int] = {}
    for cx, cy in edges:
        if cy not in row_min or cx < row_min[cy]:
            row_min[cy] = cx
        if cy not in row_max or cx > row_max[cy]:
            row_max[cy] = cx
    for y in range(min_y, max_y + 1):
        if y not in row_min:
            continue
        for x in range(row_min[y], row_max[y] + 1):
            if x < tile_min_x or x > tile_max_x or y < tile_min_y or y > tile_max_y:
                continue
            out.append((x, y))
    return out


# ---------------------------------------------------------------------------
# Ear-clipping triangulation (earcut-style, for footprint → triangles → cells)
# ---------------------------------------------------------------------------


def _tri_area2(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def triangulate(outer: np.ndarray, holes: list[np.ndarray] | None = None) -> list[tuple[int, int, int]]:
    """Ear-clipping triangulation of a simple polygon (optionally with holes),
    returning vertex-index triangles into the combined vertex list
    (outer vertices first, then each hole's).

    Plays the role of the earcut dependency used at reference
    tile3d-multipolygon.ts:139-196 and :441-463 (covered-tiles input). This is an
    independent O(n^2) ear-clipper — footprints are tiny (≤ ~64 vertices) so the
    quadratic bound is irrelevant; holes are joined to the outer ring by the
    classic max-x bridge (same approach earcut publishes).
    """
    outer = _strip_closing(np.asarray(outer, dtype=np.float64))
    polys = [outer]
    if holes:
        polys += [_strip_closing(np.asarray(h, dtype=np.float64)) for h in holes]

    # build combined vertex table with original indices
    verts: list[tuple[float, float, int]] = []
    idx = 0
    ranges = []
    for p in polys:
        ranges.append((idx, idx + len(p)))
        for v in p:
            verts.append((float(v[0]), float(v[1]), idx))
            idx += 1

    # normalize winding: outer CCW, holes CW (standard ear-clip convention)
    def ring_indices(rng, ccw):
        a, b = rng
        pts = np.array([(verts[i][0], verts[i][1]) for i in range(a, b)])
        area = 0.0
        for i in range(len(pts)):
            j = (i + 1) % len(pts)
            area += pts[i][0] * pts[j][1] - pts[j][0] * pts[i][1]
        order = list(range(a, b))
        if (area > 0) != ccw:
            order.reverse()
        return order

    poly = ring_indices(ranges[0], ccw=True)
    hole_rings = [ring_indices(r, ccw=False) for r in ranges[1:]]

    # bridge holes into the outer ring, rightmost-vertex first
    for hr in sorted(hole_rings, key=lambda h: -max(verts[i][0] for i in h)):
        hi = max(range(len(hr)), key=lambda k: verts[hr[k]][0])
        hx, hy = verts[hr[hi]][0], verts[hr[hi]][1]
        # nearest visible outer vertex to the right (simple robust choice:
        # closest outer vertex with x >= hx, fall back to globally closest)
        best, best_d = None, math.inf
        for pos, vi in enumerate(poly):
            vx, vy = verts[vi][0], verts[vi][1]
            d = (vx - hx) ** 2 + (vy - hy) ** 2
            if vx >= hx and d < best_d:
                best, best_d = pos, d
        if best is None:
            best = min(range(len(poly)), key=lambda p: (verts[poly[p]][0] - hx) ** 2 + (verts[poly[p]][1] - hy) ** 2)
        rotated_hole = hr[hi:] + hr[:hi]
        poly = poly[: best + 1] + rotated_hole + [rotated_hole[0], poly[best]] + poly[best + 1 :]

    # ear clipping
    tris: list[tuple[int, int, int]] = []
    ring = poly[:]
    guard = 0
    while len(ring) > 3 and guard < 100000:
        guard += 1
        n = len(ring)
        clipped = False
        for i in range(n):
            ia, ib, ic = ring[(i - 1) % n], ring[i], ring[(i + 1) % n]
            ax, ay = verts[ia][0], verts[ia][1]
            bx, by = verts[ib][0], verts[ib][1]
            cx, cy = verts[ic][0], verts[ic][1]
            if _tri_area2(ax, ay, bx, by, cx, cy) <= 0:
                continue  # reflex
            # no other ring vertex inside
            ok = True
            for j in ring:
                if j in (ia, ib, ic):
                    continue
                px, py = verts[j][0], verts[j][1]
                if (
                    _tri_area2(ax, ay, bx, by, px, py) >= 0
                    and _tri_area2(bx, by, cx, cy, px, py) >= 0
                    and _tri_area2(cx, cy, ax, ay, px, py) >= 0
                ):
                    ok = False
                    break
            if ok:
                tris.append((ia, ib, ic))
                del ring[i]
                clipped = True
                break
        if not clipped:
            # degenerate leftover — fan out to terminate deterministically
            for i in range(1, len(ring) - 1):
                tris.append((ring[0], ring[i], ring[i + 1]))
            ring = ring[:3]
            break
    if len(ring) == 3:
        tris.append((ring[0], ring[1], ring[2]))
    return tris


def _strip_closing(ring: np.ndarray) -> np.ndarray:
    if len(ring) > 1 and ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]:
        return ring[:-1]
    return ring


def polygon_vertices(outer: np.ndarray, holes: list[np.ndarray] | None = None) -> np.ndarray:
    outer = _strip_closing(np.asarray(outer, dtype=np.float64))
    parts = [outer]
    if holes:
        parts += [_strip_closing(np.asarray(h, dtype=np.float64)) for h in holes]
    return np.vstack(parts)


def covered_cells(
    rings: list[np.ndarray],
    ring_types: list[str],
    scale: float,
) -> set[tuple[int, int]]:
    """Grid cells covered by a (multi)polygon footprint: group rings into
    outer+holes runs, triangulate each polygon, rasterize each triangle, union.

    Semantics of getCoveredTiles, reference src/building/tile3d-multipolygon.ts:424-467
    (earcut per multipolygon, getTilesUnderTriangle per triangle with
    scale = resolution / tileSize).
    """
    polys: list[tuple[np.ndarray, list[np.ndarray]]] = []
    for ring, rtype in zip(rings, ring_types):
        if rtype == "outer":
            polys.append((np.asarray(ring, dtype=np.float64), []))
        else:
            if not polys:
                return set()
            polys[-1][1].append(np.asarray(ring, dtype=np.float64))

    cells: set[tuple[int, int]] = set()
    for outer, holes in polys:
        verts = polygon_vertices(outer, holes)
        for ia, ib, ic in triangulate(outer, holes):
            tri = np.array([verts[ia], verts[ib], verts[ic]])
            cells.update(tiles_under_triangle(tri, scale, scale))
    return cells


def populate_with_points(
    rings: list[np.ndarray],
    ring_types: list[str],
    resolution: int,
    tile_size: float,
    seed: int = 42,
) -> np.ndarray:
    """Jittered grid points inside a multipolygon (label/instance placement).

    Semantics of populateWithPoints, reference tile3d-multipolygon.ts:357-388:
    one candidate per covered grid cell at (x + 0.75 - rand·0.5)/res·tileSize,
    kept iff inside every outer ring and outside every inner ring. The reference
    draws `Math.random` (SURVEY.md §2.8 flags this as a graft must-seed site) —
    here the jitter comes from the reference's own SeededRandom chain, drawn in
    sorted-cell order, so output is deterministic and partition-independent.
    """
    from .colors import SeededRandom

    cells = sorted(covered_cells(rings, ring_types, resolution / tile_size))
    rng = SeededRandom(seed)
    outers = [np.asarray(r, dtype=np.float64) for r, t in zip(rings, ring_types) if t == "outer"]
    inners = [np.asarray(r, dtype=np.float64) for r, t in zip(rings, ring_types) if t == "inner"]
    out = []
    for (x, y) in cells:
        px = (x + 0.75 - rng.generate() * 0.5) / resolution * tile_size
        py = (y + 0.75 - rng.generate() * 0.5) / resolution * tile_size
        p = np.array([[px, py]])
        ok = all(points_in_ring(p, r)[0] for r in outers)
        if ok and any(points_in_ring(p, r)[0] for r in inners):
            ok = False
        if ok:
            out.append((px, py))
    return np.array(out, dtype=np.float64).reshape(-1, 2)


# ---------------------------------------------------------------------------
# Interior point (OL getFlatMidpoint semantics for the batch-table boxCenter)
# ---------------------------------------------------------------------------


def interior_point(rings: list[np.ndarray]) -> tuple[float, float]:
    """Representative interior point of a polygon: midpoint of the widest
    horizontal-centerline segment whose midpoint lies inside; falls back to the
    extent center.

    This is the algorithm behind OpenLayers' RenderFeature.getFlatMidpoint /
    getInteriorPointOfArray, which the reference feeds to the batch-table boxCenter
    (b3dmGenerator.ts:244-246).
    """
    all_pts = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    min_x, min_y = all_pts.min(axis=0)
    max_x, max_y = all_pts.max(axis=0)
    cx, cy = (min_x + max_x) / 2.0, (min_y + max_y) / 2.0

    xs: list[float] = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x1 = r[-1, 0]
        y1 = r[-1, 1]
        for i in range(len(r)):
            x2, y2 = r[i, 0], r[i, 1]
            if (cy <= y1 and y2 <= cy) or (y1 <= cy and cy <= y2):
                if y2 != y1:
                    xs.append((cy - y1) / (y2 - y1) * (x2 - x1) + x1)
                else:
                    xs.append(x1)
            x1, y1 = x2, y2

    xs.sort()
    best_x, best_len = math.nan, -math.inf
    for i in range(1, len(xs)):
        seg = abs(xs[i] - xs[i - 1])
        if seg > best_len:
            mid = (xs[i] + xs[i - 1]) / 2.0
            if points_in_polygon(np.array([[mid, cy]]), rings)[0]:
                best_x, best_len = mid, seg
    if math.isnan(best_x):
        best_x = cx
    return best_x, cy


# ---------------------------------------------------------------------------
# Line segment helpers (roof family; used by later build phases)
# ---------------------------------------------------------------------------


def segment_intersection(
    a1: np.ndarray, a2: np.ndarray, b1: np.ndarray, b2: np.ndarray
) -> np.ndarray | None:
    """Segment-segment intersection point or None.

    Semantics of getIntersectionLineLine, reference src/building/roof/utils.ts:220-253.
    """
    x1, y1 = float(a1[0]), float(a1[1])
    x2, y2 = float(a2[0]), float(a2[1])
    x3, y3 = float(b1[0]), float(b1[1])
    x4, y4 = float(b2[0]), float(b2[1])
    denom = (y4 - y3) * (x2 - x1) - (x4 - x3) * (y2 - y1)
    if denom == 0:
        return None
    ua = ((x4 - x3) * (y1 - y3) - (y4 - y3) * (x1 - x3)) / denom
    ub = ((x2 - x1) * (y1 - y3) - (y2 - y1) * (x1 - x3)) / denom
    if ua < 0 or ua > 1 or ub < 0 or ub > 1:
        return None
    return np.array([x1 + ua * (x2 - x1), y1 + ua * (y2 - y1)])


def signed_dst_to_line(point: np.ndarray, line_a: np.ndarray, line_b: np.ndarray) -> float:
    """Signed perpendicular distance of point to infinite line a→b.

    Semantics of signedDstToLine, reference src/building/roof/utils.ts:27-34.
    """
    ax, ay = float(line_a[0]), float(line_a[1])
    bx, by = float(line_b[0]), float(line_b[1])
    px, py = float(point[0]), float(point[1])
    dx, dy = bx - ax, by - ay
    length = math.hypot(dx, dy)
    return ((px - ax) * dy - (py - ay) * dx) / length


def point_progress_along_segment(point: np.ndarray, a: np.ndarray, b: np.ndarray) -> float:
    """Clamped [0,1] projection of point onto segment a→b.

    Semantics of getPointProgressAlongLineSegment, reference
    src/building/roof/utils.ts:98-110.
    """
    ab = np.asarray(b, dtype=np.float64) - np.asarray(a, dtype=np.float64)
    ap = np.asarray(point, dtype=np.float64) - np.asarray(a, dtype=np.float64)
    denom = float(np.dot(ab, ab))
    if denom == 0:
        return 0.0
    return float(min(1.0, max(0.0, np.dot(ap, ab) / denom)))
