"""Skeleton-based roof builders: hipped / gabled / gambrel / mansard /
quadrupleSaltbox — numpy ports over functions.skeleton.straight_skeleton.

Parity sources (/root/reference/):
- src/building/roof/hipped-roof-builder.ts:12-282   (per-face height field from
  signed distance to the face's edge, angle override, UV-cell clipping, per-face
  flat normals)
- src/building/roof/gabled-roof-builder.ts:14-172   (collapse 3-vertex end faces
  to the ridge via line intersection; gable-end skirt)
- src/building/roof/gambrel-roof-builder.ts          (split at 0.1, bump 0.1,
   5-point skirt)
- src/building/roof/mansard-roof-builder.ts:6-85     (split at 0.3, bump 0.3)
- src/building/roof/quadruple-saltbox-roof-builder.ts (split 0.5, bump 0, flat top)
- src/building/roof/utils.ts:112-218                 (splitPolygon with crossback
  bookkeeping), :312-359 (splitSkeletonPolygon at offset)

Faces with inner rings are not supported by the skeleton (returns None) — the
dispatch falls back to flat, the same observable behavior as the reference when
its WASM SkeletonBuilder throws.
"""

from __future__ import annotations

import math

import numpy as np

from . import geometry as g
from .atlas import atlas_transform_for_texture
from .mesh import calculate_roof_normals, make_verts, uv_cell_subdivide, verts_to_buffers
from .skeleton import straight_skeleton


def _signed_dst(points: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    lv = b - a
    ln = math.hypot(lv[0], lv[1])
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    return (lv[0] * (pts[:, 1] - a[1]) - lv[1] * (pts[:, 0] - a[0])) / ln


def split_polygon(poly: list, ray_orig, ray_dir) -> list[list]:
    """Port of splitPolygon (roof/utils.ts:112-218): split a polygon by the
    infinite line (ray_orig, ray_dir), crossback bookkeeping included."""
    if not poly or len(poly) < 3:
        raise ValueError("splitPolygon: input polygon must have at least 3 vertices")
    inter_points = []
    start = poly[-1]
    for ivert in range(len(poly)):
        end = poly[ivert]
        edge_dir = (end[0] - start[0], end[1] - start[1])
        den = ray_dir[0] * edge_dir[1] - ray_dir[1] * edge_dir[0]
        if den != 0:
            num = ray_dir[0] * (ray_orig[1] - start[1]) - ray_dir[1] * (ray_orig[0] - start[0])
            s = num / den
            if 0 <= s <= 1:
                p = (start[0] + s * edge_dir[0], start[1] + s * edge_dir[1])
                num = edge_dir[0] * (ray_orig[1] - start[1]) - edge_dir[1] * (ray_orig[0] - start[0])
                t = num / den
                inter_points.append({
                    "is": (ivert + len(poly) - 1) % len(poly),
                    "ie": ivert, "p": p, "t": t, "crossback": None,
                })
        start = end
    inter_points.sort(key=lambda e: e["t"])
    if len(inter_points) % 2 != 0:
        raise ValueError("splitPolygon: unknown error")

    output: list[list] = [[]]
    cur_poly = output[0]
    for ivert in range(len(poly)):
        cur_poly.append(poly[ivert])
        inter = None
        for it, e in enumerate(inter_points):
            if e["is"] == ivert:
                inter = it
                break
        if inter is not None:
            cur_poly.append(inter_points[inter]["p"])
            pair = inter + 1 if inter % 2 == 0 else inter - 1
            inter_points[pair]["crossback"] = cur_poly
            if inter_points[inter]["crossback"] is not None:
                cur_poly = inter_points[inter]["crossback"]
            else:
                cur_poly = []
                output.append(cur_poly)
            cur_poly.append(inter_points[inter]["p"])
    return output


def split_skeleton_polygon(face_xy: list, edge_start, edge_end, split_at: float):
    """(vertices_bottom, vertices_top) flat [x0,y0,x1,y1,...] lists
    (roof/utils.ts:312-359). rotateRight((x,y)) = (y,-x)."""
    ev = (edge_end[0] - edge_start[0], edge_end[1] - edge_start[1])
    ln = math.hypot(ev[0], ev[1])
    edge_normal = (ev[1] / ln, -ev[0] / ln)
    off = (-split_at * edge_normal[0], -split_at * edge_normal[1])
    split_a = (edge_start[0] + off[0], edge_start[1] + off[1])
    split_b = (edge_end[0] + off[0], edge_end[1] + off[1])
    verts = [(p[0], p[1]) for p in face_xy]
    try:
        split = split_polygon(verts, split_a, (split_a[0] - split_b[0], split_a[1] - split_b[1]))
    except Exception:
        split = None
    bottom: list[float] = []
    top: list[float] = []
    if not split or len(split) == 1:
        for p in verts:
            bottom.extend(p)
    else:
        for p in split[0]:
            bottom.extend(p)
        for p in split[1]:
            top.extend(p)
    return bottom, top


def _triangulate_face(
    flat_vertices: list[float],
    min_height: float,
    height: float,
    max_skeleton_height: float,
    edge_line,
    uv_scale_x: float,
    uv_scale_y: float,
    dst_modifier=None,
) -> np.ndarray:
    """HippedRoofBuilder.triangulatePolygon up to its UV-cell clip: per-vertex
    height from signed edge distance, world UVs, earcut reversed → Vert
    triangles (T, 3, 8)."""
    pts = np.asarray(flat_vertices, dtype=np.float64).reshape(-1, 2)
    if len(pts) < 3:
        return np.empty((0, 3, 8))
    a = np.asarray(edge_line[0], dtype=np.float64)
    b = np.asarray(edge_line[1], dtype=np.float64)
    dst = _signed_dst(pts, a, b)
    rel = dst / max_skeleton_height if max_skeleton_height != 0 else np.zeros(len(pts))
    if dst_modifier is not None:
        rel = np.array([dst_modifier(v) for v in rel])
    z = min_height + height * rel

    # uvWorldX: distance to the perpendicular of the edge at edgeEnd
    # ([edge[1], edge[1] + rotateRight(edge[0]-edge[1])])
    perp_dir = np.array([(a - b)[1], -(a - b)[0]])
    uv_x = _signed_dst(pts, b, b + perp_dir) / uv_scale_x
    ratio = max_skeleton_height / height if height != 0 else math.inf
    sin_term = math.sin(math.atan(ratio)) if math.isfinite(ratio) else 1.0
    uv_y = (dst / sin_term) / uv_scale_y if sin_term != 0 else dst / uv_scale_y

    # reference reverses the earcut output
    idx = np.asarray(g.triangulate(pts), dtype=np.int64).reshape(-1, 3)[:, ::-1].ravel()
    return make_verts(
        np.column_stack([uv_x[idx], uv_y[idx]]),
        np.column_stack([pts[idx], z[idx]]),
        np.tile([0.0, 0.0, 1.0], (len(idx), 1)),
    ).reshape(-1, 3, 8)


def _faces_for(params: dict):
    """Outer + inner rings → per-edge skeleton faces, matching the reference's
    getStraightSkeletonInput (tile3d-multipolygon.ts:275-290: outer first,
    then every inner ring). A failed skeleton returns None → the dispatch's
    flat fallback (reference buildRoofSafe semantics).

    Only inner rings actually CONTAINED in outers[0] ride along: on a
    multi-outer multipolygon a hole belonging to another outer would hand the
    skeleton a disjoint wavefront that can never merge — burning the full
    rotation+jitter retry ladder before the inevitable None. Containment is a
    majority vote over the hole's vertices (round-4 ADVICE): deciding on the
    first vertex alone misclassifies a dirty inner ring whose first vertex
    sits on or just outside the outer boundary."""
    from .geometry import points_in_ring

    rings, ring_types = params["rings"], params["ring_types"]
    outers = [np.asarray(r, dtype=np.float64) for r, t in zip(rings, ring_types) if t == "outer"]
    inners = [np.asarray(r, dtype=np.float64) for r, t in zip(rings, ring_types) if t == "inner"]
    if not outers:
        return None
    holes = []
    for h in inners:
        if not len(h):
            continue
        ring = h[:-1] if len(h) > 1 and (h[0] == h[-1]).all() else h
        votes = points_in_ring(ring, outers[0])
        if 2 * int(np.asarray(votes).sum()) >= len(ring):
            holes.append(h)
    return straight_skeleton(outers[0], holes=holes)


def _max_skeleton_height(faces) -> float:
    mx = 0.0
    for face in faces:
        a = np.array(face[-1][:2])
        b = np.array(face[0][:2])
        pts = np.array([[v[0], v[1]] for v in face])
        d = _signed_dst(pts, a, b)
        mx = max(mx, float(d.max()) if len(d) else 0.0)
    return mx


def _collapse_gabled(faces, max_h: float):
    """GabledRoofBuilder end-face collapse: 3-vertex faces whose neighbors have
    more vertices get their apex moved onto the gable edge; returns (new_faces,
    skirt_segments) where each segment is (begin, end, center, prev_face_edge)."""
    faces = [ [list(v) for v in f] for f in faces ]
    skirt_segments = []
    eq = lambda p, q: abs(p[0] - q[0]) <= 1e-7 and abs(p[1] - q[1]) <= 1e-7
    for i, polygon in enumerate(faces):
        if len(polygon) != 3:
            continue
        edge_start = polygon[-1]
        edge_end = polygon[0]
        prev_p = next((p for p in faces if p and eq(p[0], edge_start)), None)   # p.edgeEnd == edgeStart
        next_p = next((p for p in faces if p and eq(p[-1], edge_end)), None)    # p.edgeStart == edgeEnd
        if prev_p is None or next_p is None or len(prev_p) <= 3 or len(next_p) <= 3:
            continue
        extruded = next((v for v in polygon if not eq(v, edge_start) and not eq(v, edge_end)), None)
        if extruded is None:
            continue
        other = None
        for pv in prev_p:
            if any(eq(nv, pv) and not (eq(pv, edge_start) or eq(pv, edge_end) or eq(pv, extruded)) for nv in next_p):
                other = pv
                break
        if other is None:
            continue
        a = np.array(extruded[:2])
        b = np.array(other[:2])
        t = b + (a - b) * 1000.0
        center = g.segment_intersection(
            np.array(edge_start[:2]), np.array(edge_end[:2]), b, t
        )
        if center is None:
            continue
        for face2 in (prev_p, next_p):
            for v in face2:
                if eq(v, extruded):
                    v[0], v[1] = float(center[0]), float(center[1])
        skirt_segments.append((
            np.array(edge_start[:2]), np.array(edge_end[:2]), np.array(center),
            (np.array(prev_p[-1][:2]), np.array(prev_p[0][:2])),
        ))
        polygon.clear()
    return [f for f in faces], skirt_segments


def _gabled_skirt(skirt_segments, min_height, height, max_h, rtype, split_progress, bump):
    skirt = []
    for begin, end, center, prev_edge in skirt_segments:
        d = _signed_dst(center.reshape(1, 2), prev_edge[0], prev_edge[1])[0]
        center_height = d / max_h if max_h != 0 else 0.0
        if rtype == "gambrel":
            def top(progress):
                return progress + ((1 - progress) / (1 - split_progress)) * bump
            center_roof_h = top(center_height) * height
            half_roof_h = top(split_progress) * height
            if half_roof_h >= center_roof_h:
                pts = np.array([begin, center, end])
                hts = np.array([min_height, min_height + center_roof_h, min_height])
            else:
                f = split_progress / center_height if center_height != 0 else 0.0
                p1 = begin + (center - begin) * f
                p2 = end + (center - end) * f
                pts = np.array([begin, p1, center, p2, end])
                hts = np.array([
                    min_height, min_height + half_roof_h, min_height + center_roof_h,
                    min_height + half_roof_h, min_height,
                ])
        else:
            pts = np.array([begin, center, end])
            hts = np.array([min_height, min_height + center_height * height, min_height])
        skirt.append({"points": pts, "heights": hts, "has_windows": False})
    return skirt


def skeleton_roof(params: dict, rtype: str) -> dict | None:
    faces = _faces_for(params)
    if faces is None:
        return None
    max_h = _max_skeleton_height(faces)
    if max_h <= 0:
        return None

    height = params["height"]
    min_height = params["min_height"]
    facade_height_override = None
    if params.get("angle") is not None:
        height = max_h * math.tan(math.radians(params["angle"] if params["angle"] is not None else 45.0))
        min_height = params["building_height"] - height
        facade_height_override = params["building_height"] - height

    skirt = None
    if rtype in ("gabled", "gambrel"):
        faces, segments = _collapse_gabled(faces, max_h)
        max_h = _max_skeleton_height([f for f in faces if f]) or max_h
        split_progress = 0.1 if rtype == "gambrel" else None
        bump = 0.1 if rtype == "gambrel" else None
        skirt = _gabled_skirt(segments, min_height, height, max_h, rtype,
                              split_progress or 0.0, bump or 0.0)

    atlas = atlas_transform_for_texture(params["texture_id"])
    sx, sy = params["scale_x"], params["scale_y"]

    split_cfg = {
        "gambrel": (0.1, 0.1),
        "mansard": (0.3, 0.3),
        "quadrupleSaltbox": (0.5, 0.0),
    }.get(rtype)

    tris = []
    for face in faces:
        if not face:
            continue
        edge_start = np.array(face[-1][:2])
        edge_end = np.array(face[0][:2])
        edge_line = (edge_start, edge_end)
        flat_xy = [(v[0], v[1]) for v in face]
        if split_cfg is None or rtype == "hipped" or rtype == "gabled":
            tris.append(_triangulate_face(
                [c for p in flat_xy for c in p], min_height, height, max_h,
                edge_line, sx, sy,
            ))
        else:
            split_progress, bump = split_cfg
            bottom, top = split_skeleton_polygon(flat_xy, edge_start, edge_end,
                                                 max_h * split_progress)
            if rtype == "quadrupleSaltbox":
                rb = _triangulate_face(bottom, min_height, height * 2, max_h,
                                       edge_line, sx, sy)
                rt = _triangulate_face(top, min_height + height, 0.0, max_h,
                                       edge_line, sx, sy)
            else:
                def mod_bottom(p, sp=split_progress, bf=bump):
                    return p + (p / sp) * bf

                def mod_top(p, sp=split_progress, bf=bump):
                    return p + ((1 - p) / (1 - sp)) * bf

                rb = _triangulate_face(bottom, min_height, height, max_h,
                                       edge_line, sx, sy, mod_bottom)
                rt = _triangulate_face(top, min_height, height, max_h,
                                       edge_line, sx, sy, mod_top)
            tris += [rb, rt]

    rows = uv_cell_subdivide(np.concatenate(tris) if tris else np.empty((0, 3, 8)),
                             atlas, clamp_uv=False, reverse=False)
    if not len(rows):
        return None
    buf = verts_to_buffers(rows)
    # per-face flat normals (hipped-roof-builder.ts calculateNormals, flip=False)
    buf["normal"] = calculate_roof_normals(buf["position"])
    return {**buf, "add_skirt": skirt is not None and len(skirt) > 0, "skirt": skirt,
            "facade_height_override": facade_height_override}
