"""Web-Mercator (EPSG:3857) + XYZ tile-grid math.

Replicates the tile universe of the reference: `createXYZ({tileSize: 512})` over the
full EPSG:3857 extent (reference src/b3dmGenerator.ts:40, generate-tileset.ts:15).
OpenLayers' XYZ grid has 2^z × 2^z tiles at zoom z with origin at the top-left, so
the tile math is pure linear algebra over doubles — which means it is expressible
both as numpy kernels (this module) and as native Spark Column expressions
(`tile_x_col`/`tile_y_col` below) that stay inside whole-stage codegen and match
ANSI SQL run by DuckDB bit-for-bit (floor over linear double math).

Zoom levels used by the pipeline: Z_LEAF = 16 (b3dm tiles), Z_GROUP = 12 (subtile
JSON grouping) — reference generate-tileset.ts:39 / tileset.ts:17,39.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

R = 6378137.0
HALF_SIZE = math.pi * R  # 20037508.342789244
WORLD_SIZE = 2.0 * HALF_SIZE

Z_LEAF = 16
Z_GROUP = 12

# Canonical extent (Lyon) from reference readme.md:39 — used as test fixture extent.
LYON_EXTENT = (483846.38180292473, 5694711.4384306185, 594527.2326621102, 5785212.880144494)


def tile_span(z: int) -> float:
    return WORLD_SIZE / (1 << z)


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def lonlat_to_3857(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:4326 → 3857, the OpenLayers formulation (x = HALF_SIZE·lon/180,
    y = R·ln(tan(π·(lat+90)/360))) used throughout the reference via ol/proj."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = HALF_SIZE * lon / 180.0
    y = R * np.log(np.tan(np.pi * (lat + 90.0) / 360.0))
    return x, y


def merc_to_lonlat(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:3857 → 4326 (ol/proj toEPSG4326 formulation)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = 180.0 * x / HALF_SIZE
    lat = 360.0 * np.arctan(np.exp(y / R)) / np.pi - 90.0
    return lon, lat


def tile_xy(x: np.ndarray, y: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Point → XYZ tile coordinate at zoom z (top-left origin, y down), as
    whole doubles: the IEEE operations of `tile_x_col`/`tile_y_col`, so the
    tile the JVM computes. Not cast to int, so a NaN or infinite coordinate
    stays one (an int cast of those is platform-defined)."""
    span = tile_span(z)
    tx = np.floor((np.asarray(x, dtype=np.float64) + HALF_SIZE) / span)
    ty = np.floor((HALF_SIZE - np.asarray(y, dtype=np.float64)) / span)
    return tx, ty


def tile_extent(z: int, tx: int, ty: int) -> tuple[float, float, float, float]:
    """Tile → (minx, miny, maxx, maxy) in EPSG:3857 (ol TileGrid.getTileCoordExtent)."""
    span = tile_span(z)
    min_x = -HALF_SIZE + tx * span
    max_y = HALF_SIZE - ty * span
    return (min_x, max_y - span, min_x + span, max_y)


def tile_range_for_extent(extent: tuple[float, float, float, float], z: int) -> tuple[int, int, int, int]:
    """Tile range (min_tx, min_ty, max_tx, max_ty) intersecting an extent, with the
    max edge exclusive — matching ol TileGrid.getTileRangeForExtentAndZ's reverse
    intersection policy so that a parent tile's extent maps to exactly its children."""
    span = tile_span(z)
    min_tx = int(math.floor((extent[0] + HALF_SIZE) / span))
    max_tx = int(math.ceil((extent[2] + HALF_SIZE) / span)) - 1
    min_ty = int(math.floor((HALF_SIZE - extent[3]) / span))
    max_ty = int(math.ceil((HALF_SIZE - extent[1]) / span)) - 1
    return min_tx, min_ty, max_tx, max_ty


def for_each_tile_coord(extent: tuple[float, float, float, float], z: int) -> list[tuple[int, int, int]]:
    """Enumerate (z, x, y) in OL forEachTileCoord order: x outer, y inner.

    This order defines the reference's seeding sequence (seed-b3dm.ts:25-35) and
    therefore the deterministic first-claimer tile-ownership semantics.
    """
    min_tx, min_ty, max_tx, max_ty = tile_range_for_extent(extent, z)
    return [(z, x, y) for x in range(min_tx, max_tx + 1) for y in range(min_ty, max_ty + 1)]


def cell_id(tx: np.ndarray, ty: np.ndarray, z: int = Z_LEAF) -> np.ndarray:
    """Pack (z, x, y) into one int64: (z << 58) | (x << 29) | y."""
    return (np.int64(z) << 58) | (np.asarray(tx, dtype=np.int64) << 29) | np.asarray(ty, dtype=np.int64)


# ---------------------------------------------------------------------------
# Native Spark Column expressions (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------


def tile_x_col(x: Column, z: int = Z_LEAF) -> Column:
    return F.floor((x + F.lit(HALF_SIZE)) / F.lit(tile_span(z)))


def tile_y_col(y: Column, z: int = Z_LEAF) -> Column:
    return F.floor((F.lit(HALF_SIZE) - y) / F.lit(tile_span(z)))


def tile_key_col(tx: Column, ty: Column, z: int = Z_LEAF) -> Column:
    return F.concat_ws("_", F.lit(str(z)), tx.cast("string"), ty.cast("string"))


def lon_col_from_merc(x: Column) -> Column:
    return F.lit(180.0) * x / F.lit(HALF_SIZE)


def lat_col_from_merc(y: Column) -> Column:
    return F.lit(360.0) * F.atan(F.exp(y / F.lit(R))) / F.lit(math.pi) - F.lit(90.0)
