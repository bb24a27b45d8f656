"""Mesh-buffer kernels shared by the 3D construction operators.

All functions operate on plain numpy arrays; they run inside Arrow `applyInPandas`
batches (per-building loops stay in Python over tiny vertex counts, bulk math is
numpy). Parity sources (/root/reference/):

- src/building/roof/type.ts:48-125          (Vert + clipRange: Sutherland–Hodgman
  clip in UV space with pos/norm lerp)
- src/building/roof/utils.ts:36-95          (calculateNormal / calculateRoofNormals /
  calculateSplitsNormals)
- src/utils/geometry.ts:34-67               (flipTriangleWindingNonIndexed — swaps
  vertex 0 and 2 of each triangle, positions + uvs only)
- three.js BufferGeometry.computeVertexNormals (non-indexed: face normal copied to
  each of the 3 vertices) — used by build3dBuilding.ts:115
- src/building/building-builder.ts:418-459  (addAndPaintGeometry: color/textureId
  fan-out per vertex, uint8 wrap at buffer creation :491-492)
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Vert soup: each vert is (u, v, px, py, pz, nx, ny, nz) — one ndarray row.
# ---------------------------------------------------------------------------

U, V, PX, PY, PZ, NX, NY, NZ = range(8)


def make_verts(uv: np.ndarray, pos: np.ndarray, norm: np.ndarray) -> np.ndarray:
    return np.hstack([
        np.asarray(uv, dtype=np.float64).reshape(-1, 2),
        np.asarray(pos, dtype=np.float64).reshape(-1, 3),
        np.asarray(norm, dtype=np.float64).reshape(-1, 3),
    ])


def clip_range(
    poly: np.ndarray, axis: str, edge: float, keep_greater: bool, strict: bool
) -> np.ndarray:
    """Sutherland–Hodgman half-plane clip of a Vert polygon in UV space; position
    and normal are lerped with the same t (roof/type.ts:48-125)."""
    if len(poly) == 0:
        return poly
    ax = U if axis == "x" else V
    out = []
    n = len(poly)
    for i in range(n):
        A = poly[i]
        B = poly[(i + 1) % n]
        a, b = A[ax], B[ax]
        if keep_greater:
            inside_a = a > edge if strict else a >= edge
            inside_b = b > edge if strict else b >= edge
        else:
            inside_a = a < edge if strict else a <= edge
            inside_b = b < edge if strict else b <= edge
        if inside_a and inside_b:
            out.append(B.copy())
        elif inside_a and not inside_b:
            t = (edge - a) / (b - a)
            out.append(A + t * (B - A))
        elif not inside_a and inside_b:
            t = (edge - a) / (b - a)
            out.append(A + t * (B - A))
            out.append(B.copy())
    if not out:
        return np.empty((0, 8), dtype=np.float64)
    return np.vstack(out)


# (triangle, cell) pairs clipped per pass of uv_cell_subdivide: bounds its
# padded polygon arrays (8 float64 per vertex, 7 vertices after four clips)
CLIP_PAIRS_PER_PASS = 1 << 15


def _clip_padded(
    poly: np.ndarray, n: np.ndarray, ax: int, edge: np.ndarray, keep_greater: bool, strict: bool
) -> tuple[np.ndarray, np.ndarray]:
    """clip_range over a stack of padded polygons: poly (P, W, 8) whose first
    n[p] rows are polygon p, one threshold edge[p] each → (poly, n). Polygon
    edge i (A = vertex i, B = vertex i + 1 mod n) emits what clip_range appends
    for it: nothing, B, the crossing, or the crossing then B; a cumsum of the
    per-edge counts places the emitted vertices."""
    w = poly.shape[1]
    i = np.arange(w)
    valid = i < n[:, None]
    nxt = np.take_along_axis(poly, np.where(i + 1 < n[:, None], i + 1, 0)[:, :, None], axis=1)
    a, b, e = poly[:, :, ax], nxt[:, :, ax], edge[:, None]
    if keep_greater:
        inside_a, inside_b = (a > e, b > e) if strict else (a >= e, b >= e)
    else:
        inside_a, inside_b = (a < e, b < e) if strict else (a <= e, b <= e)
    cross = valid & (inside_a != inside_b)
    keep_b = valid & inside_b
    count = cross.astype(np.int64) + keep_b
    start = np.cumsum(count, axis=1) - count
    n_out = count.sum(axis=1)
    out = np.zeros((len(poly), int(n_out.max(initial=0)), 8))
    p, k = np.nonzero(cross)
    A, B = poly[p, k], nxt[p, k]
    t = (edge[p] - A[:, ax]) / (B[:, ax] - A[:, ax])
    out[p, start[p, k]] = A + t[:, None] * (B - A)
    p, k = np.nonzero(keep_b)
    out[p, start[p, k] + cross[p, k]] = nxt[p, k]
    return out, n_out


def uv_cell_subdivide(
    tris: np.ndarray,
    atlas: tuple[float, float, float, float],
    clamp_uv: bool = True,
    reverse: bool = False,
) -> np.ndarray:
    """Split a stack of Vert triangles (T, 3, 8) along integer UV-cell
    boundaries, fan-triangulate each clipped cell and map local UVs through the
    atlas transform. Returns Vert rows whose (u, v) are final atlas UVs, in
    (triangle, iu, iv, fan) order. This is the shared loop of
    flat-roof-builders.ts:123-176, skillion-roof-builder.ts:130-175,
    hipped-roof-builder.ts (triangulatePolygon tail) and curved-roof-builder.ts
    subdivideAndPush.

    Every (triangle, cell) pair is clipped at once by the four half-planes of
    its cell; the arithmetic is clip_range's, element for element, so the rows
    equal the per-triangle, per-cell clip_range loop bit for bit. Clip cells of
    a triangle are convex, so the fan (0, k, k + 1) is what earcut yields.

    reverse=True replicates the `.reverse()` the flat builder applies to the earcut
    output (flat-roof-builders.ts:150 uses reversed indices); cell fans of convex
    polygons are winding-symmetric, so reversing the fan order flips winding.
    """
    off_x, off_y, sc_x, sc_y = atlas
    tris = np.asarray(tris, dtype=np.float64).reshape(-1, 3, 8)
    lo = tris[:, :, [U, V]].min(axis=1)
    hi = tris[:, :, [U, V]].max(axis=1)
    if not (np.isfinite(lo).all() and np.isfinite(hi).all()):
        raise ValueError("uv_cell_subdivide: non-finite UV")
    c0 = np.floor(lo)
    n_cells = (np.ceil(hi) - c0).astype(np.int64)
    per_tri = n_cells[:, 0] * n_cells[:, 1]
    tri = np.repeat(np.arange(len(tris)), per_tri)
    k = np.arange(len(tri)) - np.repeat(np.cumsum(per_tri) - per_tri, per_tri)
    nv = n_cells[tri, 1]
    iu = c0[tri, 0] + k // nv
    iv = c0[tri, 1] + k % nv

    out = []
    for s in range(0, len(tri), CLIP_PAIRS_PER_PASS):
        cut = slice(s, s + CLIP_PAIRS_PER_PASS)
        cu, cv = iu[cut], iv[cut]
        poly, n = tris[tri[cut]], np.full(len(cu), 3)
        poly, n = _clip_padded(poly, n, U, cu, True, False)
        poly, n = _clip_padded(poly, n, U, cu + 1, False, True)
        poly, n = _clip_padded(poly, n, V, cv, True, False)
        poly, n = _clip_padded(poly, n, V, cv + 1, False, True)
        # fan triangles (0, j, j + 1), j = 1 .. n - 2, of every cell with n >= 3
        fans = np.maximum(n - 2, 0)
        cell = np.repeat(np.arange(len(n)), fans)
        j = 1 + np.arange(len(cell)) - np.repeat(np.cumsum(fans) - fans, fans)
        if reverse:
            j = fans[cell] + 1 - j
            corners = np.column_stack([j + 1, j, np.zeros_like(j)])
        else:
            corners = np.column_stack([np.zeros_like(j), j, j + 1])
        rows = poly[cell[:, None], corners].reshape(-1, 8)
        lu = rows[:, U] - np.repeat(cu[cell], 3)
        lv = rows[:, V] - np.repeat(cv[cell], 3)
        if clamp_uv:
            lu = np.clip(lu, 0.0, 1.0)
            lv = np.clip(lv, 0.0, 1.0)
        rows[:, U] = off_x + lu * sc_x
        rows[:, V] = off_y + lv * sc_y
        out.append(rows)
    if not out:
        return np.empty((0, 8), dtype=np.float64)
    return np.concatenate(out)


def verts_to_buffers(verts: np.ndarray) -> dict[str, np.ndarray]:
    return {
        "position": verts[:, [PX, PY, PZ]].ravel(),
        "uv": verts[:, [U, V]].ravel(),
        "normal": verts[:, [NX, NY, NZ]].ravel(),
    }


# ---------------------------------------------------------------------------
# normals
# ---------------------------------------------------------------------------


def calculate_normal(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """cross(b - a, c - a), normalized (roof/utils.ts:36-41)."""
    n = np.cross(b - a, c - a)
    ln = np.linalg.norm(n)
    return n / ln if ln > 0 else n


def calculate_roof_normals(positions: np.ndarray) -> np.ndarray:
    """Per-face normal copied to each vertex (roof/utils.ts:43-62), vectorized."""
    p = np.asarray(positions, dtype=np.float64).reshape(-1, 3, 3)
    a, b, c = p[:, 0], p[:, 1], p[:, 2]
    n = np.cross(b - a, c - a)
    ln = np.linalg.norm(n, axis=1, keepdims=True)
    ln[ln == 0] = 1.0
    n = n / ln
    return np.repeat(n, 3, axis=0).ravel()


def calculate_splits_normals(splits: np.ndarray) -> np.ndarray:
    """Per-split-point 2D normals of a roof profile polyline (roof/utils.ts:64-95).
    rotateLeft((x, y)) = (-y, x)."""
    splits = np.asarray(splits, dtype=np.float64)
    edges = splits[1:] - splits[:-1]
    edge_normals = np.column_stack([-edges[:, 1], edges[:, 0]])
    out = np.zeros_like(splits)
    for i in range(len(splits)):
        e0 = edge_normals[i - 1] if i - 1 >= 0 else None
        e1 = edge_normals[i] if i < len(edge_normals) else None
        if e0 is None:
            v = e1
        elif e1 is None:
            v = e0
        else:
            v = e0 + e1
        out[i] = v / np.linalg.norm(v)
    return out


def compute_vertex_normals(positions: np.ndarray) -> np.ndarray:
    """three.js computeVertexNormals for non-indexed geometry: flat per-face
    normals, normalized, copied to all 3 vertices (build3dBuilding.ts:115)."""
    p = np.asarray(positions, dtype=np.float64).reshape(-1, 3, 3)
    a, b, c = p[:, 0], p[:, 1], p[:, 2]
    n = np.cross(c - b, a - b)
    ln = np.linalg.norm(n, axis=1, keepdims=True)
    ln[ln == 0] = 1.0
    n = n / ln
    return np.repeat(n, 3, axis=0).astype(np.float32).ravel()


def flip_triangle_winding(positions: np.ndarray, uvs: np.ndarray | None) -> tuple[np.ndarray, np.ndarray | None]:
    """Swap vertex 0 and vertex 2 of every triangle, positions + uvs only —
    normals/colors/textureIds are deliberately NOT flipped, matching
    utils/geometry.ts:34-67 exactly."""
    pos = np.asarray(positions, dtype=np.float64).reshape(-1, 3, 3).copy()
    pos[:, [0, 2]] = pos[:, [2, 0]]
    out_uv = None
    if uvs is not None:
        uv = np.asarray(uvs, dtype=np.float64).reshape(-1, 3, 2).copy()
        uv[:, [0, 2]] = uv[:, [2, 0]]
        out_uv = uv.ravel()
    return pos.ravel(), out_uv


# ---------------------------------------------------------------------------
# buffer assembly (BuildingBuilder.addAndPaintGeometry / getGeometry)
# ---------------------------------------------------------------------------


class GeometryAccumulator:
    """Accumulates roof/wall buffers for one building and finalizes typed buffers
    with the reference's dtype downcasts (building-builder.ts:83-95, 484-495)."""

    def __init__(self) -> None:
        self.position: list[np.ndarray] = []
        self.uv: list[np.ndarray] = []
        self.normal: list[np.ndarray] = []
        self.texture_id: list[np.ndarray] = []
        self.color: list[np.ndarray] = []
        self.terrain_mask: list[np.ndarray] = []

    def add(
        self,
        position: np.ndarray,
        normal: np.ndarray,
        uv: np.ndarray,
        color: int,
        texture_id,
        height_offset: float = 0.0,
    ) -> None:
        pos = np.asarray(position, dtype=np.float64).copy()
        if height_offset:
            # reference applies the offset to Y-index-1 of interleaved xyz
            pos = pos.reshape(-1, 3)
            pos[:, 1] += height_offset
            pos = pos.ravel()
        n_verts = len(pos) // 3
        self.position.append(pos)
        self.normal.append(np.asarray(normal, dtype=np.float64))
        self.uv.append(np.asarray(uv, dtype=np.float64))
        from .colors import color_to_components

        comps = color_to_components(int(color)) if color is not None else (255, 255, 255)
        self.color.append(np.tile(np.array(comps, dtype=np.int64), n_verts))
        if np.isscalar(texture_id) or texture_id is None:
            tid = 0 if texture_id is None else int(texture_id)
            self.texture_id.append(np.full(n_verts, tid, dtype=np.int64))
        else:
            self.texture_id.append(np.asarray(texture_id, dtype=np.int64))

    def add_mask(self, position: np.ndarray) -> None:
        pos = np.asarray(position, dtype=np.float64).reshape(-1, 3)
        self.terrain_mask.append(pos[:, [0, 2]].ravel())

    def geometry(self) -> dict[str, np.ndarray]:
        pos = np.concatenate(self.position) if self.position else np.empty(0)
        out = {
            "position": pos.astype(np.float32),
            "normal": (np.concatenate(self.normal) if self.normal else np.empty(0)).astype(np.float32),
            "uv": (np.concatenate(self.uv) if self.uv else np.empty(0)).astype(np.float32),
            # uint8 casts wrap exactly like JS Uint8Array stores (incl. the
            # negative r component of colors above 2^24, colors.py)
            "texture_id": (np.concatenate(self.texture_id) if self.texture_id else np.empty(0, dtype=np.int64)).astype(np.uint8),
            "color": (np.concatenate(self.color) if self.color else np.empty(0, dtype=np.int64)).astype(np.uint8),
            "terrain_mask": (np.concatenate(self.terrain_mask) if self.terrain_mask else np.empty(0)).astype(np.float32),
        }
        p = out["position"].reshape(-1, 3)
        out["bbox"] = (
            np.array([p.min(axis=0), p.max(axis=0)]).ravel()
            if len(p)
            else np.zeros(6, dtype=np.float32)
        )
        return out
