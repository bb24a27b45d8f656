"""Oriented (OMBB profile sweep) roof builders: round / saltbox / orientedGambrel.

Parity source: /root/reference/src/building/roof/oriented-roof-builder.ts:23-499 —
the footprint is triangulated, each triangle is sliced by lines parallel to the
OMBB's short axis at each profile split, and each slice is extruded to the
piecewise-linear profile height; the skirt walks every ring, inserting split-line
intersections sorted by progress. Profiles:
- oriented-gambrel-roof-builder.ts:5-12  (5-point bump, flat-shaded)
- oriented-saltbox-roof-builder.ts:5-11  (3-point asymmetric, respectDirection)
- oriented-round-roof-builder.ts:5-26    (19-point semicircle, smooth-shaded)

Documented deviations (both are output-invisible in the reference because
build3dBuilding.ts:104 discards builder normals and recomputes them):
- the reference earcuts the already-fanned triangle soup of each slice
  (oriented-roof-builder.ts:276-279) — we fan-triangulate the convex slice
  directly;
- for non-smooth profiles the reference APPENDS flat normals after the per-vertex
  normals, doubling the normal buffer — we emit flat normals only.
"""

from __future__ import annotations

import math

import numpy as np

from . import geometry as g
from .atlas import atlas_transform_for_texture
from .mesh import (
    calculate_roof_normals,
    calculate_splits_normals,
    make_verts,
    uv_cell_subdivide,
    verts_to_buffers,
)
from .roofs import angle_clockwise, multipolygon_ombb, rotation_vectors_from_ombb, split_rings
from .skeleton_roofs import split_polygon

SPLITS_ORIENTED_GAMBREL = np.array([[0, 0], [0.15, 0.8], [0.5, 1], [0.85, 0.8], [1, 0]], float)
SPLITS_ORIENTED_SALTBOX = np.array([[0, 0], [0.7, 1], [1, 0.2]], float)
SPLITS_ORIENTED_ROUND = np.array([
    [0, 0],
    [0.00759612349389599, 0.17364817766693041],
    [0.03015368960704584, 0.3420201433256688],
    [0.0669872981077807, 0.5000000000000001],
    [0.116977778440511, 0.6427876096865394],
    [0.17860619515673037, 0.766044443118978],
    [0.25, 0.8660254037844387],
    [0.32898992833716567, 0.9396926207859084],
    [0.41317591116653485, 0.984807753012208],
    [0.5, 1],
    [0.5868240888334652, 0.984807753012208],
    [0.6710100716628343, 0.9396926207859084],
    [0.75, 0.8660254037844387],
    [0.8213938048432696, 0.766044443118978],
    [0.883022221559489, 0.6427876096865394],
    [0.9330127018922193, 0.5000000000000001],
    [0.9698463103929542, 0.3420201433256688],
    [0.9924038765061041, 0.17364817766693041],
    [1, 0],
], float)


def _sdst(p, a, b):
    lv = (b[0] - a[0], b[1] - a[1])
    ln = math.hypot(lv[0], lv[1])
    return (lv[0] * (p[1] - a[1]) - lv[1] * (p[0] - a[0])) / ln


def _rot_z(v, angle):
    c, s = math.cos(angle), math.sin(angle)
    return np.array([v[0] * c - v[1] * s, v[0] * s + v[1] * c, v[2]])


def _split_triangle(vertices, line_a, line_b):
    """splitTriangle (oriented-roof-builder.ts:335-371): returns (top, bottom)
    with the side-ordering fix-up based on the max signed distance to the line."""
    try:
        split = split_polygon(
            [tuple(v) for v in vertices], tuple(line_a),
            (line_a[0] - line_b[0], line_a[1] - line_b[1]),
        )
    except Exception:
        split = None
    if not split or len(split) == 1:
        top, bottom = [tuple(v) for v in vertices], []
    else:
        top, bottom = split[1], split[0]

    def max_dst(ring):
        if not ring:
            return -math.inf
        return max(_sdst(p, line_a, line_b) for p in ring)

    if (bottom and max_dst(bottom) > 1e-4) or (top and max_dst(top) < 1e-4):
        top, bottom = bottom, top
    return top, bottom


def oriented_roof(params: dict, splits: np.ndarray, is_smooth: bool,
                  respect_direction: bool) -> dict | None:
    rings, ring_types = params["rings"], params["ring_types"]
    min_height = params["min_height"]
    height = params["height"]
    splits_normals = calculate_splits_normals(splits)

    ombb = params.get("ombb")
    if ombb is None:
        ombb = multipolygon_ombb(rings, ring_types)
    origin, rot0, rot1 = rotation_vectors_from_ombb(
        ombb, params.get("orientation"),
        params.get("direction") if respect_direction else None,
    )
    roof_length = float(np.linalg.norm(rot0))
    if roof_length == 0:
        return None

    ray_origin = origin + rot0 * 0.5 - rot1
    vertical_line = (ray_origin, ray_origin + rot0)

    # footprint triangles (all outers with holes)
    outers, inners = split_rings(rings, ring_types)
    if not outers:
        return None
    atlas = atlas_transform_for_texture(params["texture_id"])
    angle = angle_clockwise(np.array([0.0, 1.0]), rot1)

    tris = []
    for outer in outers:
        o = g._strip_closing(outer)
        hole_list = [g._strip_closing(h) for h in inners]
        verts2d = np.vstack([o] + hole_list) if hole_list else o
        tri_idx = g.triangulate(o, hole_list if hole_list else None)
        for (ia, ib, ic) in tri_idx:
            triangle = [tuple(verts2d[ic]), tuple(verts2d[ib]), tuple(verts2d[ia])]
            uv_y = 0.0
            tri = triangle
            for i in range(1, len(splits)):
                split = splits[i]
                prev = splits[i - 1]
                so = origin + rot0 * split[0] - rot1
                split_line = (so, so + rot1 * 3.0)
                uv_step = math.hypot((split[0] - prev[0]) * roof_length,
                                     (split[1] - prev[1]) * height)
                uv_next = uv_y + uv_step
                flip_uv = split[1] < prev[1]
                length = (split[0] - prev[0]) * roof_length
                n_from2 = splits_normals[i - 1]
                n_to2 = splits_normals[i]
                nf = _rot_z(np.array([n_from2[0] / roof_length, 0.0,
                                      n_from2[1] / height if height != 0 else 0.0]),
                            -angle - math.pi)
                nt = _rot_z(np.array([n_to2[0] / roof_length, 0.0,
                                      n_to2[1] / height if height != 0 else 0.0]),
                            -angle - math.pi)
                nf = nf / (np.linalg.norm(nf) or 1.0)
                nt = nt / (np.linalg.norm(nt) or 1.0)

                if i == len(splits) - 1:
                    slice_verts = tri
                else:
                    top, bottom = _split_triangle(tri, split_line[0], split_line[1])
                    slice_verts = bottom
                    if not top:
                        tri = None
                    else:
                        tri = top

                if slice_verts and length:
                    tris.extend(_slice_triangles(
                        slice_verts, split_line, prev[1], split[1], length,
                        uv_y, uv_next, flip_uv, nf, nt, is_smooth,
                        min_height, height, vertical_line,
                        params["scale_x"], params["scale_y"],
                    ))
                uv_y = uv_next
                if i == len(splits) - 1 or tri is None:
                    break

    rows = uv_cell_subdivide(np.array(tris).reshape(-1, 3, 8), atlas, clamp_uv=True, reverse=False)
    if not len(rows):
        return None
    buf = verts_to_buffers(rows)
    if not is_smooth:
        buf["normal"] = calculate_roof_normals(buf["position"])

    skirt = _oriented_skirt(rings, splits, origin, rot0, rot1, min_height, height)
    return {**buf, "add_skirt": True, "skirt": skirt, "facade_height_override": None,
            "can_extend_outside_footprint": True}


def _slice_triangles(slice_verts, line, h_from, h_to, length, uv_y_from, uv_y_to,
                     flip_uv, n_from, n_to, is_smooth, min_height, height,
                     vertical_line, scale_x, scale_y):
    """The Vert triangles (a fan over slice_verts) of one profile slice."""
    base = min_height + height * h_from
    slice_h = height * (h_to - h_from)
    tris = []
    n = len(slice_verts)
    for j in range(2, n):
        uvr, posr, normr = [], [], []
        for idx in (0, j - 1, j):
            x, y = slice_verts[idx]
            dst = _sdst((x, y), line[0], line[1])
            alpha = 1 - abs(dst) / length
            z = base + alpha * slice_h
            u_w = _sdst((x, y), vertical_line[0], vertical_line[1]) / scale_x
            v_w = (uv_y_from + (uv_y_to - uv_y_from) * alpha) / scale_y
            if flip_uv:
                u_w, v_w = -u_w, -v_w
            if is_smooth:
                nn = n_from + (n_to - n_from) * alpha
                nn = nn / (np.linalg.norm(nn) or 1.0)
            else:
                nn = n_from
            uvr.append((u_w, v_w))
            posr.append((x, y, z))
            normr.append(nn)
        tris.append(make_verts(np.array(uvr), np.array(posr), np.array(normr)))
    return tris


def _point_height(point, origin, rot0, rot1, splits):
    """Piecewise-linear profile height at a footprint point
    (oriented-roof-builder.ts:getPointHeight)."""
    d = _sdst(point, origin, origin + rot1) / np.linalg.norm(rot0)
    for i in range(1, len(splits)):
        if d < splits[i][0] or i == len(splits) - 1:
            frm, to = splits[i - 1], splits[i]
            t = (d - frm[0]) / (to[0] - frm[0]) if to[0] != frm[0] else 0.0
            return frm[1] + (to[1] - frm[1]) * t
    return 0.0


def _oriented_skirt(rings, splits, origin, rot0, rot1, min_height, height):
    skirt = []
    for ring in rings:
        nodes = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        pts, hts = [], []
        for i in range(len(nodes)):
            node = nodes[i]
            hn = _point_height(node, origin, rot0, rot1, splits)
            pts.append(node)
            hts.append(min_height + height * abs(hn))
            if i + 1 >= len(nodes):
                continue
            nxt = nodes[i + 1]
            inters = []
            for j in range(1, len(splits) - 1):
                so = origin + rot0 * splits[j][0] - rot1
                inter = g.segment_intersection(node, nxt, so, so + rot1 * 3.0)
                if inter is None:
                    continue
                seg = nxt - node
                l2 = float(seg @ seg)
                prog = 0.0 if l2 == 0 else max(0.0, min(1.0, float((inter - node) @ seg) / l2))
                inters.append((prog, inter))
            inters.sort(key=lambda t: t[0])
            for _, p in inters:
                hn2 = _point_height(p, origin, rot0, rot1, splits)
                pts.append(p)
                hts.append(min_height + height * abs(hn2))
        skirt.append({
            "points": np.array(pts), "heights": np.array(hts), "has_windows": False,
        })
    return skirt
