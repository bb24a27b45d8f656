"""Per-tile 3D building construction — the Spark mapping of the reference's
worker-side `build3dBuildings` (/root/reference/src/build3dBuilding.ts:17-133) +
`Builder.handleBuilding` (/root/reference/src/building/builder.ts:95-188).

Plan shape (the part that must scale):
- input is the ownership-assigned buildings table (one row per building with its
  owner tile) — already shuffled once by the ownership window; the construction
  stage itself is a single `applyInPandas` over `tile_key` groups, i.e. exactly
  one exchange on the natural output partitioning (one tile = one output row =
  one B3DM), no Python round-trips in between;
- the same group also emits the tile's batch table
  (`batch_table.tile_batch_table`: the pivoted batch columns, `box_center` and
  `osm_id`, in the build's osm_id order), so a tile row carries everything its
  B3DM is packed from and the seed sink needs no join;
- all geometry kernels are numpy (functions.roofs / walls / skeleton / mesh);
  per-building loops run inside the Arrow batch, never as row UDFs;
- buffers come back as array<float> columns (Arrow-packed), so downstream sinks
  (parquet / b3dm packer) stay columnar.

Reference parity decisions (documented quirks):
- feature order inside a tile = ascending osm_id (the reference's order is MVT
  feature order, which its seed path makes deterministic; sorted osm_id is our
  deterministic equivalent — it also makes the output independent of
  partitioning, required by the N-vs-4N identical-output check);
- facade color: builder.ts:305 parses `buildingFacadeColor.toString()` — a
  number — through the CSS ColorParser, which always fails -> 0xFFFFFF; walls
  are therefore always white (replicated exactly);
- windowSeed null -> SeededRandom default seed chain drives per-ring UV offsets;
- final merge flips triangle winding (positions+uvs only) and recomputes flat
  vertex normals, matching build3dBuilding.ts:112-115.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as g
from ..functions import mercator as m
from ..functions.atlas import (
    ExtrudedTextures,
    FACADE_MATERIAL_TO_TEXTURE,
    MERCATOR_SCALE,
    ROOF_MATERIAL_TO_TEXTURE,
    ROOF_TEXTURE_SCALE,
)
from ..functions.colors import SeededRandom, parse_color
from ..functions.mesh import GeometryAccumulator, compute_vertex_normals, flip_triangle_winding
from ..functions.params import PROPERTY_INPUT_COLS, has_building_params, with_building_params
from ..functions.roofs import build_roof, flat_roof
from ..functions.walls import build_walls
from .batch_table import batch_input, tile_batch_table

TERRAIN_MIN_HEIGHT = 0.0  # builder.ts:18-19


def _normalize_rings(rings_raw, ring_types, offset_x: float, offset_y: float):
    """Offset to tile-local frame + winding normalization
    (build3dBuilding.ts:30-72: outer→clockwise, inner→counter-clockwise)."""
    out = []
    for ring, rtype in zip(rings_raw, ring_types):
        arr = np.asarray([[float(p[0]) - offset_x, float(p[1]) - offset_y] for p in ring])
        if rtype == "outer":
            arr = g.ensure_clockwise(arr)
        else:
            arr = g.ensure_counter_clockwise(arr)
        out.append(arr)
    return out


def _roof_params_for(row) -> dict:
    """Builder.getRoofParams (builder.ts:236-294)."""
    material = row.get("building_roof_material") or "default"
    if material == "default":
        return {
            "texture_id": ExtrudedTextures.RoofGeneric3,
            "color": 0xFF333333,
            "scale_x": 32.0,
            "scale_y": 32.0,
            "is_stretched": False,
        }
    tex = ROOF_MATERIAL_TO_TEXTURE.get(material, ExtrudedTextures.RoofConcrete)
    sx, sy = ROOF_TEXTURE_SCALE.get(tex, (1.0, 1.0))
    color = row.get("building_roof_color")
    return {
        "texture_id": tex,
        "color": int(color) if color is not None and not pd.isna(color) else None,
        "scale_x": sx,
        "scale_y": sy,
        "is_stretched": False,
    }


def _facade_params_for(row) -> dict:
    """Builder.getFacadeParams (builder.ts:298-350) incl. the always-white quirk."""
    material = row.get("building_facade_material") or "cementBlock"
    tex, width = FACADE_MATERIAL_TO_TEXTURE.get(
        material, FACADE_MATERIAL_TO_TEXTURE["cementBlock"]
    )
    raw = row.get("building_facade_color")
    color = parse_color(str(int(raw))) if raw is not None and not pd.isna(raw) else None
    if not color:
        color = 0xFFFFFF
    return {
        "window_width": width * MERCATOR_SCALE,
        "color": color,
        "texture_id_wall": tex,
        "texture_id_window": tex,  # hasWindows=false, builder.ts:310
    }


def _num(row, key, default=None):
    v = row.get(key)
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return default
    return float(v)


def build_single_building(row: dict, rings, ring_types) -> GeometryAccumulator | None:
    """One Builder.handleBuilding pass: roof + skirt walls + ring walls + ceiling
    slab / terrain mask."""
    acc = GeometryAccumulator()

    building_height = _num(row, "building_height", 0.0)
    roof_height = _num(row, "building_roof_height", 0.0)
    min_height = _num(row, "building_min_height", 0.0)
    levels = _num(row, "building_levels", 1.0)

    roof_params = _roof_params_for(row)
    facade = _facade_params_for(row)

    params = {
        "rings": rings,
        "ring_types": ring_types,
        "type": row.get("building_roof_type") or "flat",
        "building_height": building_height,
        "min_height": building_height - roof_height,  # + skirtOffset(0)
        "height": roof_height,
        "direction": _num(row, "building_roof_direction"),
        "orientation": row.get("building_roof_orientation"),
        "angle": None,  # buildingRoofAngle is disabled in the reference
        "texture_id": roof_params["texture_id"],
        "scale_x": roof_params["scale_x"],
        "scale_y": roof_params["scale_y"],
        "is_stretched": roof_params["is_stretched"],
    }
    roof = build_roof(params)
    acc.add(
        roof["position"], roof["normal"], roof["uv"],
        roof_params["color"] if roof_params["color"] is not None else 0xFFFFFF,
        params["texture_id"], TERRAIN_MIN_HEIGHT,
    )

    facade_height_override = roof.get("facade_height_override")
    walls_height = (
        facade_height_override
        if facade_height_override is not None
        else building_height - roof_height
    )

    # skirt walls (gable ends / skillion rim), building-builder.ts:263-307
    if roof.get("add_skirt") and roof.get("skirt"):
        for part in roof["skirt"]:
            pts = np.asarray(part["points"], dtype=np.float64).reshape(-1, 2)
            hts = np.asarray(part["heights"], dtype=np.float64)
            skirt_max = float(hts.max()) if len(hts) else 0.0
            level_height = (walls_height - min_height) / levels if levels else 0.0
            if level_height < 0.01 or levels == 0:
                level_height = 4.0
            skirt_levels = (skirt_max - walls_height) / level_height
            if part["has_windows"] and skirt_levels > 0.5:
                skirt_levels = float(np.floor(skirt_levels + 0.5))
            walls = build_walls(
                pts, walls_height, skirt_max, skirt_levels, facade["window_width"],
                facade["texture_id_wall"],
                facade["texture_id_wall"] if not part["has_windows"] else facade["texture_id_window"],
                height_points=hts,
            )
            acc.add(walls["position"], walls["normal"], walls["uv"], facade["color"],
                    walls["texture_id"], TERRAIN_MIN_HEIGHT)

    # ring walls, building-builder.ts:312-343
    no_walls = min_height >= walls_height
    if not no_walls:
        rng = SeededRandom(None)
        for ring, rtype in zip(rings, ring_types):
            uv_off = (float(np.floor(rng.generate() * 256)), float(np.floor(rng.generate() * 256)))
            walls = build_walls(
                ring, min_height, walls_height, levels, facade["window_width"],
                facade["texture_id_wall"], facade["texture_id_window"], uv_offset=uv_off,
            )
            acc.add(walls["position"], walls["normal"], walls["uv"], facade["color"],
                    walls["texture_id"], TERRAIN_MIN_HEIGHT)

    # ceiling slab / terrain mask, building-builder.ts:345-376
    if min_height > 0:
        slab = flat_roof({
            "rings": rings, "ring_types": ring_types, "min_height": min_height,
            "scale_x": 10.0, "scale_y": 10.0, "is_stretched": False,
            "texture_id": ExtrudedTextures.RoofConcrete,
        })
        acc.add(slab["position"], slab["normal"], slab["uv"], facade["color"],
                ExtrudedTextures.RoofConcrete, TERRAIN_MIN_HEIGHT)
    else:
        footprint = flat_roof({
            "rings": rings, "ring_types": ring_types, "min_height": 0.0,
            "scale_x": 10.0, "scale_y": 10.0, "is_stretched": False,
            "texture_id": ExtrudedTextures.RoofConcrete,
        })
        acc.add_mask(footprint["position"])

    return acc


# the geometry columns of a build_tiles_3d row; its batch table follows them
BUILD3D_SCHEMA = T.StructType([
    T.StructField("tile_key", T.StringType()),
    T.StructField("batch_length", T.IntegerType()),
    T.StructField("osm_ids", T.ArrayType(T.LongType())),
    T.StructField("position", T.ArrayType(T.FloatType())),
    T.StructField("normal", T.ArrayType(T.FloatType())),
    T.StructField("uv", T.ArrayType(T.FloatType())),
    T.StructField("batch_id", T.ArrayType(T.IntegerType())),
    T.StructField("texture_id", T.BinaryType()),
    T.StructField("color", T.BinaryType()),
    T.StructField("bbox", T.ArrayType(T.DoubleType())),
    T.StructField("n_vertices", T.IntegerType()),
])

_NEEDED_COLS = [
    "tile_key", "tile_x", "tile_y", "osm_id", "geometry", "ring_types",
    "building_height", "building_min_height", "building_roof_height",
    "building_levels", "building_roof_type", "building_roof_material",
    "building_roof_color", "building_roof_direction", "building_roof_orientation",
    "building_facade_material", "building_facade_color",
]


def _build_tile_group(pdf: pd.DataFrame, batch_fields: list[T.StructField]) -> pd.DataFrame:
    """One tile's buildings → its row: merged geometry buffers, then its
    batch table (`batch_fields`, from `batch_table.batch_input`)."""
    pdf = pdf.sort_values("osm_id", kind="mergesort")
    tile_key = pdf["tile_key"].iloc[0]
    z, tx, ty = (int(p) for p in tile_key.split("_"))
    min_x, min_y, _max_x, _max_y = m.tile_extent(z, tx, ty)

    positions, normals, uvs, batch_ids, tex_ids, colors = [], [], [], [], [], []
    osm_ids = []
    for batch_idx, (_, row) in enumerate(pdf.iterrows()):
        rings = _normalize_rings(row["geometry"], row["ring_types"], min_x, min_y)
        acc = build_single_building(dict(row), rings, list(row["ring_types"]))
        geom = acc.geometry()
        n_verts = len(geom["position"]) // 3
        if n_verts == 0:
            continue
        osm_ids.append(int(row["osm_id"]))
        positions.append(geom["position"])
        normals.append(geom["normal"])
        uvs.append(geom["uv"])
        tex_ids.append(geom["texture_id"])
        colors.append(geom["color"])
        batch_ids.append(np.full(n_verts, batch_idx, dtype=np.int32))

    if not osm_ids:
        return pd.DataFrame(columns=BUILD3D_SCHEMA.fieldNames() + [f.name for f in batch_fields])

    pos = np.concatenate(positions)
    uv = np.concatenate(uvs)
    # merge → flip winding (positions+uvs) → recompute flat vertex normals
    pos, uv = flip_triangle_winding(pos, uv)
    normal = compute_vertex_normals(pos)
    pos32 = pos.astype(np.float32)
    p3 = pos32.reshape(-1, 3)
    bbox = np.array([p3.min(axis=0), p3.max(axis=0)]).ravel().astype(np.float64)

    return pd.DataFrame({
        "tile_key": [tile_key],
        "batch_length": [len(osm_ids)],
        "osm_ids": [np.array(osm_ids, dtype=np.int64)],
        "position": [pos32],
        "normal": [normal.astype(np.float32)],
        "uv": [uv.astype(np.float32)],
        "batch_id": [np.concatenate(batch_ids)],
        "texture_id": [np.concatenate(tex_ids).astype(np.uint8).tobytes()],
        "color": [np.concatenate(colors).astype(np.uint8).tobytes()],
        "bbox": [bbox],
        "n_vertices": [len(p3)],
        **{name: [values] for name, values in tile_batch_table(pdf, batch_fields).items()},
    })


LABEL_SCHEMA = T.StructType([
    T.StructField("osm_id", T.LongType()),
    T.StructField("label", T.StringType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("height", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("priority", T.DoubleType()),
])


def building_labels(buildings_with_params: DataFrame) -> DataFrame:
    """Label features at the pole of inaccessibility, +5 m above the roof,
    priority = pole distance (builder.ts:174-185: position [pole.x, height+5,
    pole.y], priority pole.z). One narrow Arrow stage over labeled rows only."""
    from ..functions.roofs import pole_of_inaccessibility

    src = buildings_with_params.filter(F.col("label").isNotNull()).select(
        "osm_id", "label", "geometry", "ring_types", "building_height"
    )

    def _poles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, labels, xs, hs, ys, prio = [], [], [], [], [], []
            for row in pdf.itertuples():
                outers = [
                    np.asarray([[float(p[0]), float(p[1])] for p in ring])
                    for ring, t in zip(row.geometry, row.ring_types) if t == "outer"
                ]
                if not outers:
                    continue
                px, py, dist = pole_of_inaccessibility(outers[0])
                ids.append(row.osm_id)
                labels.append(row.label)
                xs.append(px)
                hs.append(float(row.building_height or 0.0) + 5.0)
                ys.append(py)
                prio.append(dist)
            yield pd.DataFrame({
                "osm_id": ids, "label": labels, "x": xs, "height": hs,
                "y": ys, "priority": prio,
            })

    return src.mapInPandas(_poles, schema=LABEL_SCHEMA)


def build_tiles_3d(buildings_with_tile: DataFrame) -> DataFrame:
    """buildings (geometry + derived params + owner tile_key/tile_x/tile_y) →
    one row per tile with merged SoA geometry buffers, followed by the tile's
    batch table (the `batch_tables` columns after batch_length).

    Scale: groupBy(tile_key).applyInPandas — a single hash exchange on tile_key,
    then pure CPU-bound Arrow batches; AQE coalesces small tiles, salting is
    unnecessary because a z16 tile holds a bounded number of buildings."""
    base_required = ["tile_key", "osm_id", "geometry", "ring_types"]
    absent = [c for c in base_required if c not in buildings_with_tile.columns]
    if absent:
        raise ValueError(
            f"build_tiles_3d input is missing required columns {absent}; "
            f"expected an ownership-joined buildings frame with at least "
            f"{base_required} plus either the derived building_* parameter "
            "columns (functions.params.with_building_params) or the raw "
            "property columns they derive from (sources/fixtures.py schema)."
        )
    if not has_building_params(buildings_with_tile):
        raw_missing = [c for c in PROPERTY_INPUT_COLS if c not in buildings_with_tile.columns]
        if raw_missing:
            raise ValueError(
                f"build_tiles_3d input has neither derived building_* columns "
                f"nor the raw property columns (missing {raw_missing}); see "
                "sources/fixtures.py::make_buildings for the expected schema."
            )
        buildings_with_tile = with_building_params(buildings_with_tile)
    src, batch_fields = batch_input(buildings_with_tile)
    cols = [c for c in _NEEDED_COLS if c in src.columns]
    cols += [f.name for f in batch_fields if f.name in src.columns and f.name not in cols]
    schema = T.StructType(BUILD3D_SCHEMA.fields + batch_fields)
    return src.select(*cols).groupBy("tile_key").applyInPandas(
        lambda pdf: _build_tile_group(pdf, batch_fields), schema=schema
    )
