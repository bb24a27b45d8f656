"""Tileset JSON assembly (driver-side — the tree is O(extent/z12) + O(256) children
per subtile, far below driver scale; the data-scale artifacts stay distributed).

Structure replicated from the reference:
- root tileset: generate-tileset.ts:18-74 — asset 1.0, geometricError 512, root from
  createBox/RegionTilesetRoot with its transform overwritten to identity, children =
  one {geometricError 512, refine ADD, content: subtiles/{z}_{x}_{y}.json} per z12
  tile of the extent (forEachTileCoord order);
- subtile JSON: tileset.ts:9-50 — root = box/region root of the z12 tile extent,
  children = one entry per z16 tile with boundingVolume + child transform and
  uri {z}_{x}_{y}.b3dm;
- box volumes/transforms: box.ts:7-79 (box = [w/2, h/2, 150, w/2,0,0, 0,h/2,0,
  0,0,150], TILE_HEIGHT 300; child transform = delta-to-parent-center translation);
- region volumes/transforms: region.ts:7-95 (radian extents, ENU root matrix,
  3857→ENU Jacobian in the child transform's rotation block).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

from ..functions import ecef
from ..functions import mercator as m

GEOMETRIC_ERROR = 512
TILE_HEIGHT = ecef.TILE_HEIGHT


def _bounding_volume_box(extent) -> dict:
    min_x, min_y, max_x, max_y = extent
    w, h = max_x - min_x, max_y - min_y
    cz = hz = TILE_HEIGHT * 0.5
    return {
        "boundingVolume": {
            "box": [w * 0.5, h * 0.5, cz, w * 0.5, 0, 0, 0, h * 0.5, 0, 0, 0, hz]
        }
    }


def _bounding_volume_region(extent) -> dict:
    lon, lat = m.merc_to_lonlat(
        np.array([extent[0], extent[2]]), np.array([extent[1], extent[3]])
    )
    return {
        "boundingVolume": {
            "region": [
                math.radians(lon[0]),
                math.radians(lat[0]),
                math.radians(lon[1]),
                math.radians(lat[1]),
                0,
                TILE_HEIGHT,
            ]
        }
    }


def _mat4_translation(x, y, z) -> list[float]:
    """three.js Matrix4.elements column-major layout."""
    return [1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0, x, y, z, 1]


def _identity16() -> list[float]:
    return _mat4_translation(0.0, 0.0, 0.0)


def box_tileset_root(extent) -> dict:
    min_x, min_y, max_x, max_y = extent
    cx, cy = (min_x + max_x) * 0.5, (min_y + max_y) * 0.5
    content = {
        "geometricError": GEOMETRIC_ERROR,
        "refine": "ADD",
        "children": [],
        "transform": _mat4_translation(cx, cy, 0.0),
        **_bounding_volume_box(extent),
    }
    return {"center": (cx, cy, 0.0), "content": content}


def box_tileset_content(tile_coord, extent, parent_center) -> dict:
    min_x, min_y, max_x, max_y = extent
    cx, cy = (min_x + max_x) * 0.5, (min_y + max_y) * 0.5
    dx, dy, dz = cx - parent_center[0], cy - parent_center[1], 0.0 - parent_center[2]
    z, x, y = tile_coord
    return {
        "geometricError": GEOMETRIC_ERROR,
        "refine": "ADD",
        "content": {"uri": f"{z}_{x}_{y}.b3dm"},
        "transform": _mat4_translation(dx, dy, dz),
        **_bounding_volume_box(extent),
    }


def region_tileset_root(extent) -> dict:
    lon, lat = m.merc_to_lonlat(
        np.array([extent[0], extent[2]]), np.array([extent[1], extent[3]])
    )
    lon_c = math.radians((lon[0] + lon[1]) * 0.5)
    lat_c = math.radians((lat[0] + lat[1]) * 0.5)
    c = ecef.lonlat_to_ecef_rad(lon_c, lat_c, TILE_HEIGHT / 2)
    basis = ecef.enu_basis(lon_c, lat_c)
    mat = np.eye(4)
    mat[:3, :3] = basis
    elements = [
        basis[0, 0], basis[1, 0], basis[2, 0], 0,
        basis[0, 1], basis[1, 1], basis[2, 1], 0,
        basis[0, 2], basis[1, 2], basis[2, 2], 0,
        float(c[0]), float(c[1]), float(c[2]), 1,
    ]
    content = {
        "geometricError": GEOMETRIC_ERROR,
        "refine": "ADD",
        "children": [],
        "transform": elements,
        **_bounding_volume_region(extent),
    }
    return {"center_ecef": (float(c[0]), float(c[1]), float(c[2])), "basis": basis, "content": content}


def region_tileset_content(tile_coord, extent, parent) -> dict:
    z, x, y = tile_coord
    x0 = (extent[0] + extent[2]) * 0.5
    y0 = (extent[1] + extent[3]) * 0.5
    a, c0 = ecef.jacobian_3857_to_enu(x0, y0, TILE_HEIGHT / 2)
    delta = np.array(
        [
            c0[0] - parent["center_ecef"][0],
            c0[1] - parent["center_ecef"][1],
            c0[2] - parent["center_ecef"][2],
        ]
    )
    delta_local = parent["basis"].T @ delta  # inverse of orthonormal rot = transpose
    elements = [
        float(a[0, 0]), float(a[1, 0]), float(a[2, 0]), 0,
        float(a[0, 1]), float(a[1, 1]), float(a[2, 1]), 0,
        float(a[0, 2]), float(a[1, 2]), float(a[2, 2]), 0,
        float(delta_local[0]), float(delta_local[1]), float(delta_local[2]), 1,
    ]
    return {
        "geometricError": GEOMETRIC_ERROR,
        "refine": "ADD",
        "content": {"uri": f"{z}_{x}_{y}.b3dm"},
        "transform": elements,
        **_bounding_volume_region(extent),
    }


def _bounding_volume_lambert_box(extent) -> dict:
    """customBox.ts:84-105 — box from the EPSG:2154-transformed extent; note
    the reference centers the box at (w/2, h/2, zmax/2), not at the origin."""
    from ..functions import lambert

    min_x, min_y, max_x, max_y = lambert.transform_extent_to_lambert93(extent)
    w, h = max_x - min_x, max_y - min_y
    cz = hz = TILE_HEIGHT * 0.5
    return {
        "boundingVolume": {
            "box": [w * 0.5, h * 0.5, cz, w * 0.5, 0, 0, 0, h * 0.5, 0, 0, 0, hz]
        }
    }


def custombox_tileset_root(extent) -> dict:
    """createCustomBoxTilesetRoot (customBox.ts:20-38): translation-only root at
    the center of the EPSG:2154-transformed extent."""
    from ..functions import lambert

    min_x, min_y, max_x, max_y = lambert.transform_extent_to_lambert93(extent)
    cx, cy = (min_x + max_x) * 0.5, (min_y + max_y) * 0.5
    content = {
        "geometricError": GEOMETRIC_ERROR,
        "refine": "ADD",
        "children": [],
        "transform": _mat4_translation(cx, cy, 0.0),
        **_bounding_volume_lambert_box(extent),
    }
    return {"center": (cx, cy, 0.0), "content": content}


def custombox_tileset_content(tile_coord, extent, parent) -> dict:
    """createCustomBoxTilesetContent (customBox.ts:40-81): child translation =
    projected tile center minus root center (root rotation is identity, so
    local == world delta), rotation block = the 3857→2154 finite-difference
    Jacobian with e_z preserved."""
    from ..functions import lambert

    z, x, y = tile_coord
    x0 = (extent[0] + extent[2]) * 0.5
    y0 = (extent[1] + extent[3]) * 0.5
    p0, vx, vy = lambert.jacobian_3857_to_lambert93(x0, y0)
    dx, dy, dz = p0[0] - parent["center"][0], p0[1] - parent["center"][1], 0.0
    elements = [
        vx[0], vx[1], 0.0, 0.0,
        vy[0], vy[1], 0.0, 0.0,
        0.0, 0.0, 1.0, 0.0,
        dx, dy, dz, 1.0,
    ]
    return {
        "geometricError": GEOMETRIC_ERROR,
        "refine": "ADD",
        "content": {"uri": f"{z}_{x}_{y}.b3dm"},
        "transform": elements,
        **_bounding_volume_lambert_box(extent),
    }


_MODE_BUILDERS = {
    "mercator": (box_tileset_root, lambda coord, ext, root: box_tileset_content(coord, ext, root["center"])),
    "ecef": (region_tileset_root, region_tileset_content),
    "region": (region_tileset_root, region_tileset_content),  # alias
    "custombox": (custombox_tileset_root, custombox_tileset_content),
}


def build_subtile_json(extent, mode: str = "mercator") -> dict:
    root_fn, child_fn = _MODE_BUILDERS[mode]
    root = root_fn(extent)
    for coord in m.for_each_tile_coord(extent, m.Z_LEAF):
        root["content"]["children"].append(child_fn(coord, m.tile_extent(*coord), root))
    return {"asset": {"version": "1.0"}, "geometricError": GEOMETRIC_ERROR, "root": root["content"]}


def build_root_tileset(extent, mode: str = "mercator") -> tuple[dict, dict[str, dict]]:
    """Returns (root tileset json, {subtile filename: subtile json})."""
    root = _MODE_BUILDERS[mode][0](extent)
    root["content"]["transform"] = _identity16()  # generate-tileset.ts:31 overwrite
    tileset = {
        "asset": {"version": "1.0"},
        "geometricError": GEOMETRIC_ERROR,
        "root": root["content"],
    }
    subtiles: dict[str, dict] = {}
    for coord in m.for_each_tile_coord(extent, m.Z_GROUP):
        z, x, y = coord
        name = f"{z}_{x}_{y}.json"
        subtiles[name] = build_subtile_json(m.tile_extent(z, x, y), mode)
        tileset["root"]["children"].append(
            {
                "geometricError": GEOMETRIC_ERROR,
                "refine": "ADD",
                "content": {"uri": "subtiles/" + name},
            }
        )
    return tileset, subtiles


def write_tileset(out_dir: str, extent, mode: str = "mercator") -> str:
    tileset, subtiles = build_root_tileset(extent, mode)
    os.makedirs(os.path.join(out_dir, "subtiles"), exist_ok=True)
    for name, content in subtiles.items():
        with open(os.path.join(out_dir, "subtiles", name), "w") as f:
            json.dump(content, f)
    path = os.path.join(out_dir, "tileset.json")
    with open(path, "w") as f:
        json.dump(tileset, f)
    return path
