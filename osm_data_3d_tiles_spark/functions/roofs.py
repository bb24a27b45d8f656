"""Roof construction kernels — numpy ports of the reference roof builders.

Coordinate/attribute conventions follow the reference exactly: positions are
interleaved (x, y, z=height); UVs are final atlas UVs; normals per builder.

Parity sources (/root/reference/):
- src/building/roof/flat-roof-builders.ts:9-185   (FlatRoofBuilder — the default
  roof: OMBB-frame UV projection, earcut in UV space, per-UV-cell clip +
  retriangulate, inverse transform back to world)
- src/building/roof/skillion-roof-builder.ts:14-215 (rotated-AABB linear ramp,
  note the deliberate (y, x) swap in the rotation input, skirt on all rings)
- src/building/roof/curved-roof-builder.ts:15-315  (radial profile sweep from
  centroid/polylabel, 40° corner splitting, quad-strip UV + cell subdivision)
- src/building/pyramidal-roof-builder.ts, roof/dome-roof-builder.ts,
  roof/onion-roof-builder.ts                       (profile split tables)
- src/building/building-builder.ts:127-233,385-393 (dispatch + buildRoofSafe flat
  fallback)

Deviation (documented): skillion passes its hole indices to earcut (the reference
calls `earcut(flatUV, null, 2)` dropping holes — an evident defect that yields
self-overlapping triangles for donut footprints; geometric invariants, not buffer
bytes, are the verified artifact here).
"""

from __future__ import annotations

import math

import numpy as np

from . import geometry as g
from .atlas import atlas_transform_for_texture
from .mesh import (
    NX, NY, NZ, PX, PY, PZ,
    calculate_normal,
    calculate_splits_normals,
    make_verts,
    uv_cell_subdivide,
    verts_to_buffers,
)

# ---------------------------------------------------------------------------
# small vector helpers (reference src/math/vector2.ts conventions)
# ---------------------------------------------------------------------------


def angle_clockwise(a: np.ndarray, b: np.ndarray) -> float:
    dot = a[0] * b[0] + a[1] * b[1]
    det = a[0] * b[1] - a[1] * b[0]
    return math.atan2(det, dot)


def rotate2(v: np.ndarray, angle: float) -> np.ndarray:
    c, s = math.cos(angle), math.sin(angle)
    return np.array([v[0] * c - v[1] * s, v[0] * s + v[1] * c])


def rotate2_many(v: np.ndarray, angle: float) -> np.ndarray:
    c, s = math.cos(angle), math.sin(angle)
    v = np.asarray(v, dtype=np.float64).reshape(-1, 2)
    return np.column_stack([v[:, 0] * c - v[:, 1] * s, v[:, 0] * s + v[:, 1] * c])


def rotate_around_z(v: np.ndarray, angle: float) -> np.ndarray:
    """Vec3.rotateAroundAxis(v, (0,0,1), angle) — Rodrigues about +z."""
    out = np.array(v, dtype=np.float64)
    out[:2] = rotate2(v[:2], angle)
    return out


def get_nearest_direction(angle_deg: float) -> float:
    """Snap to 0/90/180/270 (roof/utils.ts:255-272)."""
    a = math.radians(angle_deg) % (2 * math.pi)
    if a < 0:
        a += 2 * math.pi
    a = math.degrees(a)
    if 45 <= a < 135:
        return 90
    if 135 <= a < 225:
        return 180
    if 225 <= a < 315:
        return 270
    return 0


def rotation_vectors_from_ombb(
    ombb: np.ndarray, orientation: str | None, direction: float | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(origin, rotVector0, rotVector1) — roof/utils.ts:478-529."""
    origin = ombb[0]
    rot0 = ombb[3] - origin
    rot1 = ombb[1] - origin
    if direction is not None:
        current = angle_clockwise(np.array([1.0, 0.0]), rot0)
        rotation = get_nearest_direction(direction - math.degrees(current))
        if rotation != 0:
            diff = rotation if rotation >= 0 else rotation + 360
            oi = int(diff // 90)
            origin = ombb[oi]
            rot0 = ombb[(oi + 3) % 4] - origin
            rot1 = ombb[(oi + 1) % 4] - origin
    elif orientation is not None:
        l0 = np.linalg.norm(rot0)
        l1 = np.linalg.norm(rot1)
        if (l0 > l1 and orientation == "along") or (l0 < l1 and orientation == "across"):
            origin = ombb[1]
            rot0 = ombb[0] - origin
            rot1 = ombb[2] - origin
    return origin, rot0, rot1


# ---------------------------------------------------------------------------
# multipolygon helpers
# ---------------------------------------------------------------------------


def split_rings(rings: list[np.ndarray], ring_types: list[str]):
    outers = [np.asarray(r, dtype=np.float64) for r, t in zip(rings, ring_types) if t == "outer"]
    inners = [np.asarray(r, dtype=np.float64) for r, t in zip(rings, ring_types) if t == "inner"]
    return outers, inners


def multipolygon_ombb(rings: list[np.ndarray], ring_types: list[str]) -> np.ndarray:
    """OMBB over all outer-ring nodes (tile3d-multipolygon.ts:296-330)."""
    outers, _ = split_rings(rings, ring_types)
    pts = np.vstack(outers)
    return g.compute_ombb(g.convex_hull(pts))


def pole_of_inaccessibility(ring: np.ndarray) -> tuple[float, float, float]:
    """Polylabel (quadtree pole of inaccessibility) over a single outer ring,
    at precision 1, matching the `polylabel([ring], 1)` call sites
    (curved-roof-builder.ts:246-257, tile3d-multipolygon.ts:332-355). Returns
    (x, y, distance)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]

    def point_dist(px, py):
        inside = g.points_in_ring(np.array([[px, py]]), np.vstack([r, r[:1]]))[0]
        d = np.inf
        b = r[-1]
        for a in r:
            # distance point→segment
            ab = a - b
            ap = np.array([px, py]) - b
            t = 0.0 if (ab @ ab) == 0 else max(0.0, min(1.0, (ap @ ab) / (ab @ ab)))
            proj = b + t * ab
            d = min(d, math.hypot(px - proj[0], py - proj[1]))
            b = a
        return d if inside else -d

    min_x, min_y = r.min(axis=0)
    max_x, max_y = r.max(axis=0)
    w, h = max_x - min_x, max_y - min_y
    cell_size = min(w, h)
    if cell_size == 0:
        return (min_x, min_y, 0.0)
    half = cell_size / 2

    import heapq

    def cell(cx, cy, hh):
        d = point_dist(cx, cy)
        return (-(d + hh * math.sqrt(2)), d, cx, cy, hh)

    queue = []
    x = min_x
    while x < max_x:
        y = min_y
        while y < max_y:
            heapq.heappush(queue, cell(x + half, y + half, half))
            y += cell_size
        x += cell_size

    # centroid seed
    cx, cy = g.polygon_centroid(np.vstack([r, r[:1]]))
    best = cell(cx, cy, 0)
    bbox_cell = cell(min_x + w / 2, min_y + h / 2, 0)
    if bbox_cell[1] > best[1]:
        best = bbox_cell

    while queue:
        c = heapq.heappop(queue)
        if c[1] > best[1]:
            best = c
        if -c[0] - best[1] <= 1.0:
            continue
        _, _, ccx, ccy, chh = c
        nh = chh / 2
        if nh <= 0:
            continue
        for dx in (-nh, nh):
            for dy in (-nh, nh):
                heapq.heappush(queue, cell(ccx + dx, ccy + dy, nh))
    return (best[2], best[3], best[1])


def _footprint_with_holes(rings, ring_types):
    """(verts2d list, hole_indices) for the FIRST outer + all inners
    (tile3d-multipolygon.ts:90-136: only the first outer ring participates)."""
    outers, inners = split_rings(rings, ring_types)
    if not outers:
        return None, None
    outer = g._strip_closing(outers[0])
    verts = [outer]
    holes = []
    idx = len(outer)
    for inner in inners:
        stripped = g._strip_closing(inner)
        holes.append(idx)
        verts.append(stripped)
        idx += len(stripped)
    return np.vstack(verts), holes


# ---------------------------------------------------------------------------
# flat roof (the default path)
# ---------------------------------------------------------------------------


def flat_roof(params: dict) -> dict | None:
    """FlatRoofBuilder.build — returns dict(position, uv, normal, add_skirt)."""
    rings, ring_types = params["rings"], params["ring_types"]
    min_height = params["min_height"]
    verts2d, holes = _footprint_with_holes(rings, ring_types)
    if verts2d is None or len(verts2d) < 3:
        return {"position": np.empty(0), "uv": np.empty(0), "normal": np.empty(0),
                "add_skirt": False, "skirt": None, "facade_height_override": None}

    ombb = params.get("ombb")
    if ombb is None:
        ombb = multipolygon_ombb(rings, ring_types)
    origin = ombb[1]
    v0 = ombb[0] - origin
    v1 = ombb[2] - origin
    angle = -angle_clockwise(np.array([1.0, 0.0]), v0)
    if params.get("is_stretched"):
        scale = np.array([np.linalg.norm(v0), np.linalg.norm(v1)])
    else:
        scale = np.array([params["scale_x"], params["scale_y"]])

    uvs_proj = rotate2_many(verts2d - origin, angle) / scale

    # earcut in UV space with holes, output reversed (flat-roof-builders.ts:52)
    outer_n = holes[0] if holes else len(uvs_proj)
    tri_idx = g.triangulate(
        uvs_proj[:outer_n],
        [uvs_proj[holes[i]: (holes[i + 1] if i + 1 < len(holes) else len(uvs_proj))]
         for i in range(len(holes))] if holes else None,
    )

    atlas = atlas_transform_for_texture(params["texture_id"])
    # the projected UV is carried through clipping in the pos.xy slots, then the
    # OMBB transform is inverted afterward — same math as the reference's
    # per-vertex inversion (flat-roof-builders.ts:154-173)
    # reversed winding, as the reference reverses earcut output
    tri_uv = uvs_proj[np.asarray(tri_idx, dtype=np.int64).reshape(-1, 3)[:, ::-1]]
    n_tris = len(tri_uv)
    carriers = make_verts(
        tri_uv, np.concatenate([tri_uv, np.zeros((n_tris, 3, 1))], axis=2),
        np.tile([0.0, 0.0, 1.0], (3 * n_tris, 1)),
    )
    rows = uv_cell_subdivide(carriers, atlas, clamp_uv=False, reverse=True)
    if not len(rows):
        return {"position": np.empty(0), "uv": np.empty(0), "normal": np.empty(0),
                "add_skirt": False, "skirt": None, "facade_height_override": None}
    proj_uv = rows[:, [PX, PY]]  # projected uv carried through clipping
    scaled = proj_uv * scale
    world = rotate2_many(scaled, -angle) + origin
    rows[:, PX] = world[:, 0]
    rows[:, PY] = world[:, 1]
    rows[:, PZ] = min_height
    rows[:, NX] = 0.0
    rows[:, NY] = 0.0
    rows[:, NZ] = 1.0
    buf = verts_to_buffers(rows)
    return {**buf, "add_skirt": False, "skirt": None, "facade_height_override": None}


# ---------------------------------------------------------------------------
# skillion roof
# ---------------------------------------------------------------------------


def skillion_roof(params: dict) -> dict | None:
    rings, ring_types = params["rings"], params["ring_types"]
    height = params["height"]
    min_height = params["min_height"]

    ombb = params.get("ombb")
    if ombb is None:
        ombb = multipolygon_ombb(rings, ring_types)

    if params.get("direction") is not None:
        rotation = -math.radians(params["direction"]) - math.pi / 2
    else:
        _, rot0, _ = rotation_vectors_from_ombb(ombb, params.get("orientation") or "along", None)
        r0n = rot0 / np.linalg.norm(rot0)
        rotation = -math.atan2(r0n[1], r0n[0]) - math.pi / 2

    # rotated AABB over ALL ring nodes with the reference's (y, x) swap
    all_nodes = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    swapped = all_nodes[:, [1, 0]]
    rot_nodes = rotate2_many(swapped, rotation)
    bb_min = rot_nodes.min(axis=0)
    bb_max = rot_nodes.max(axis=0)
    bbox_height = bb_max[1] - bb_min[1]

    facade_height_override = None
    if params.get("angle") not in (None, 0):
        height = bbox_height * math.tan(math.radians(params["angle"]))
        min_height = params["building_height"] - height
        facade_height_override = params["building_height"] - height

    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.float64(bbox_height) / np.float64(height) if height != 0 else np.inf
    uv_scale_x = 1.0 / params["scale_x"]
    uv_scale_y = 1.0 / math.sin(math.atan(ratio)) / params["scale_y"] if np.isfinite(ratio) else 1.0 / params["scale_y"]

    verts2d, holes = _footprint_with_holes(rings, ring_types)
    if verts2d is None or len(verts2d) < 3:
        return None

    span = bb_max[1] - bb_min[1]
    rot_fp = rotate2_many(verts2d[:, [1, 0]], rotation)
    z_norm = (rot_fp[:, 1] - bb_min[1]) / span if span != 0 else np.zeros(len(verts2d))
    z = min_height + z_norm * height
    uv = np.column_stack([
        (rot_fp[:, 0] - bb_min[0]) * uv_scale_x,
        (rot_fp[:, 1] - bb_min[1]) * uv_scale_y,
    ])

    # first-triangle slope normal (skillion-roof-builder.ts:195-204)
    outer_n = holes[0] if holes else len(verts2d)
    tri_idx = g.triangulate(
        verts2d[:outer_n],
        [verts2d[holes[i]: (holes[i + 1] if i + 1 < len(holes) else len(verts2d))]
         for i in range(len(holes))] if holes else None,
    )
    if not tri_idx:
        return None
    p3d = np.column_stack([verts2d, z])
    a, b, c = tri_idx[0]
    slope_normal = calculate_normal(p3d[a], p3d[b], p3d[c])

    atlas = atlas_transform_for_texture(params["texture_id"])
    idx = np.asarray(tri_idx, dtype=np.int64).ravel()  # skillion does NOT reverse earcut output
    tris = make_verts(uv[idx], p3d[idx], np.tile(slope_normal, (len(idx), 1)))
    rows = uv_cell_subdivide(tris, atlas, clamp_uv=True, reverse=False)
    if not len(rows):
        return None
    buf = verts_to_buffers(rows)

    # skirt: every ring, heights from the same ramp, windows on
    skirt = []
    for r in rings:
        nodes = np.asarray(r, dtype=np.float64)
        rs = rotate2_many(nodes[:, [1, 0]], rotation)
        zz = (rs[:, 1] - bb_min[1]) / span if span != 0 else np.zeros(len(nodes))
        skirt.append({
            "points": nodes,
            "heights": min_height + zz * height,
            "has_windows": True,
        })

    return {**buf, "add_skirt": True, "skirt": skirt,
            "facade_height_override": facade_height_override}


# ---------------------------------------------------------------------------
# curved family (pyramidal / dome / onion)
# ---------------------------------------------------------------------------

SPLITS_PYRAMIDAL = np.array([[0.0, 1.0], [1.0, 0.0]])
SPLITS_DOME = np.array([
    [0.0, 1.0],
    [0.17364817766693033, 0.984807753012208],
    [0.3420201433256687, 0.9396926207859084],
    [0.49999999999999994, 0.8660254037844387],
    [0.6427876096865393, 0.766044443118978],
    [0.766044443118978, 0.6427876096865394],
    [0.8660254037844386, 0.5000000000000001],
    [0.9396926207859083, 0.3420201433256688],
    [0.984807753012208, 0.17364817766693041],
    [1.0, 0.0],
])
SPLITS_ONION = np.array([
    [0.0, 1.0],
    [0.1111111111111111, 1.1470588235294117],
    [0.2222222222222222, 1.1764705882352942],
    [0.3333333333333333, 1.1470588235294117],
    [0.4444444444444444, 1.0],
    [0.5555555555555556, 0.7647058823529411],
    [0.6666666666666666, 0.4117647058823529],
    [0.7777777777777778, 0.15882352941176472],
    [0.8888888888888888, 0.03529411764705882],
    [1.0, 0.0],
])


def _curved_center(ring_vertices: np.ndarray) -> np.ndarray:
    closed = np.vstack([ring_vertices, ring_vertices[:1]])
    c = np.array(g.polygon_centroid(closed))
    if g.points_in_ring(c.reshape(1, 2), closed)[0]:
        return c
    px, py, _ = pole_of_inaccessibility(ring_vertices)
    return np.array([px, py])


def _polygon_split_flags(points: np.ndarray, is_edgy: bool) -> list[bool]:
    n = len(points)
    flags = []
    cos40 = math.cos(math.radians(40))
    for i in range(n):
        if is_edgy:
            flags.append(True)
            continue
        p = points[i]
        prv = points[i - 1]
        nxt = points[(i + 1) % n]
        to_prev = p - prv
        to_next = nxt - p
        lp, ln = np.linalg.norm(to_prev), np.linalg.norm(to_next)
        if lp == 0 or ln == 0:
            flags.append(False)
            continue
        flags.append(float(np.dot(to_prev / lp, to_next / ln)) < cos40)
    return flags


def _split_polygon_corners(points: np.ndarray, is_edgy: bool) -> list[np.ndarray]:
    pts = [p for p in points]
    flags = _polygon_split_flags(points, is_edgy)
    first = next((i for i, f in enumerate(flags) if f), -1)
    if first != -1:
        pts = pts[first:] + pts[:first]
        flags = flags[first:] + flags[:first]
    polylines: list[np.ndarray] = []
    current = [pts[0]]
    n = len(pts)
    for i in range(1, n + 1):
        p = pts[i] if i < n else pts[0]
        sp = flags[i] if i < n else flags[0]
        current.append(p)
        if sp or i == n:
            polylines.append(np.array(current))
            current = [p]
    return polylines


def curved_roof(params: dict, splits: np.ndarray, is_edgy: bool) -> dict | None:
    rings, ring_types = params["rings"], params["ring_types"]
    min_height = params["min_height"]
    height = params["height"]
    top_height = min_height + height
    scale_x, scale_y = params["scale_x"], params["scale_y"]

    outers, _ = split_rings(rings, ring_types)
    if not outers:
        return None
    ring_vertices = g._strip_closing(outers[0])
    if len(ring_vertices) < 3:
        return None
    center = _curved_center(ring_vertices)
    polylines = _split_polygon_corners(ring_vertices, is_edgy)
    splits_normals = calculate_splits_normals(splits)

    atlas = atlas_transform_for_texture(params["texture_id"])
    tris = []

    for polyline in polylines:
        is_closed = np.array_equal(polyline[0], polyline[-1])
        # per-vertex rows of (position, normal) along the profile
        points = []
        for i, vertex in enumerate(polyline):
            sx = top_height - min_height
            sy = float(np.linalg.norm(vertex - center))
            if not is_closed and i == 0:
                seg = vertex - polyline[i + 1]
                ang = angle_clockwise(np.array([1.0, 0.0]), seg)
            elif not is_closed and i == len(polyline) - 1:
                seg = polyline[i - 1] - vertex
                ang = angle_clockwise(np.array([1.0, 0.0]), seg)
            else:
                ang = angle_clockwise(np.array([0.0, 1.0]), vertex - center)
            row = []
            for j in range(len(splits)):
                split = splits[j]
                pos2 = center + (vertex - center) * split[1]
                zz = min_height + (top_height - min_height) * split[0]
                ns = splits_normals[j]
                nr = rotate_around_z(
                    np.array([ns[1] / sy if sy != 0 else 0.0, ns[0] / sx if sx != 0 else 0.0, 0.0]),
                    -ang - math.pi / 2,
                )
                ln = np.linalg.norm(nr)
                nr = nr / ln if ln > 0 else nr
                row.append((np.array([pos2[0], pos2[1], zz]), nr))
            points.append(row)

        uv_prog_x = 0.0
        for i in range(len(points) - 1):
            row0, row1 = points[i], points[i + 1]
            base00 = row0[0][0][:2]
            base10 = row1[0][0][:2]
            seg_vec = base10 - base00
            seg_len = float(np.linalg.norm(seg_vec))
            uv_prog_y = 0.0
            for j in range(len(row0) - 1):
                p0, p1 = row0[j], row0[j + 1]
                p2, p3 = row1[j], row1[j + 1]
                quad_y = float(np.linalg.norm(p0[0] - p1[0]))
                edge_uvs = [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)]
                for tri_pts in ([p0, p1, p2], [p1, p3, p2]):
                    uvr, posr, normr = [], [], []
                    for k, (pp, nn) in enumerate(tri_pts):
                        u_w = (uv_prog_x + edge_uvs[k][0] * seg_len) / scale_x
                        v_w = (uv_prog_y + edge_uvs[k][1] * quad_y) / scale_y
                        uvr.append((u_w, v_w))
                        posr.append(pp)
                        normr.append(nn)
                    tris.append(make_verts(np.array(uvr), np.array(posr), np.array(normr)))
                uv_prog_y += quad_y
            uv_prog_x += seg_len

    rows = uv_cell_subdivide(np.array(tris).reshape(-1, 3, 8), atlas, clamp_uv=True, reverse=False)
    if not len(rows):
        return None
    buf = verts_to_buffers(rows)
    return {**buf, "add_skirt": False, "skirt": None, "facade_height_override": None,
            "can_extend_outside_footprint": True}


# ---------------------------------------------------------------------------
# dispatch (BuildingBuilder.addRoof + buildRoofSafe)
# ---------------------------------------------------------------------------


def build_roof(params: dict) -> dict:
    """Dispatch on roof type with the reference's flat fallback for builders that
    return null (building-builder.ts:127-233, 385-393). The skeleton family
    (hipped/gabled/gambrel/mansard/quadrupleSaltbox) is dispatched via
    functions.skeleton when available; a skeleton failure falls back to flat —
    identical to the reference behavior when its WASM skeleton throws."""
    rtype = params.get("type") or "flat"
    roof = None
    try:
        if rtype == "skillion":
            roof = skillion_roof(params)
        elif rtype == "pyramidal":
            roof = curved_roof(params, SPLITS_PYRAMIDAL, True)
        elif rtype == "dome":
            roof = curved_roof(params, SPLITS_DOME, False)
        elif rtype == "onion":
            roof = curved_roof(params, SPLITS_ONION, False)
        elif rtype == "gambrel" and params.get("orientation") in ("along", "across"):
            from .oriented_roofs import SPLITS_ORIENTED_GAMBREL, oriented_roof

            roof = oriented_roof(params, SPLITS_ORIENTED_GAMBREL, False, False)
        elif rtype in ("hipped", "gabled", "gambrel", "mansard", "quadrupleSaltbox"):
            from .skeleton_roofs import skeleton_roof

            roof = skeleton_roof(params, rtype)
        elif rtype == "round":
            from .oriented_roofs import SPLITS_ORIENTED_ROUND, oriented_roof

            p = dict(params)
            if not p.get("orientation"):
                p["orientation"] = "along"
            roof = oriented_roof(p, SPLITS_ORIENTED_ROUND, True, False)
        elif rtype == "saltbox":
            from .oriented_roofs import SPLITS_ORIENTED_SALTBOX, oriented_roof

            p = dict(params)
            if p.get("direction") is None:
                p["orientation"] = "along"
            roof = oriented_roof(p, SPLITS_ORIENTED_SALTBOX, False, True)
    except Exception:
        roof = None
    if roof is None:
        roof = flat_roof(params)
    return roof
