"""Footprint → covering-cell explosion (the cell index build side).

Each building footprint is triangulated (ear clipping) and rasterized onto the z16
XYZ grid with the DDA + scanline kernel — the same covered-tiles semantics as the
reference (src/building/tile3d-multipolygon.ts:424-467 using
src/building/roof/utils.ts:420-476), expressed as one Arrow-batched `mapInPandas`
stage over the (small) buildings table.

Scale note: this runs on the *dimension* side (millions of buildings max, not the
10^12-page fact side). The output is the broadcast build-side of the spatial join, so
no shuffle touches the pages table to compute it. The per-batch loop is over
buildings within a partition's Arrow batch; all inner math is numpy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import geometry as g
from ..functions import mercator as m


def _rings_to_grid(rings, z: int) -> list[np.ndarray]:
    """Shift EPSG:3857 rings into grid units: gx = (x+HALF)/span, gy = (HALF−y)/span
    (XYZ y grows downward)."""
    span = m.tile_span(z)
    out = []
    for ring in rings:
        r = np.asarray([[float(p[0]), float(p[1])] for p in ring], dtype=np.float64)
        gx = (r[:, 0] + m.HALF_SIZE) / span
        gy = (m.HALF_SIZE - r[:, 1]) / span
        out.append(np.column_stack([gx, gy]))
    return out


def covered_cells_for_building(rings, ring_types, z: int = m.Z_LEAF) -> set[tuple[int, int]]:
    grid_rings = _rings_to_grid(rings, z)
    return g.covered_cells(grid_rings, list(ring_types), 1.0)


MULTI_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType()),
        T.StructField("z", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
    ]
)


def building_cells_multi(buildings: DataFrame, zs: tuple[int, ...]) -> DataFrame:
    """buildings(osm_id, geometry, ring_types, …) → (osm_id, z, tile_x, tile_y),
    per building its covering cells level by level, each level sorted.

    SEVERAL zoom levels in one Python pass over the geometry — one job instead
    of one per level (the flagship needs z16 for tile ownership and z20 for the
    join prefilter; scanning + triangulating the footprints once halves the
    dimension-build latency)."""

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            zz: list[int] = []
            xs: list[int] = []
            ys: list[int] = []
            for osm_id, rings, rtypes in zip(pdf["osm_id"], pdf["geometry"], pdf["ring_types"]):
                for z in zs:
                    for cx, cy in sorted(covered_cells_for_building(rings, rtypes, z)):
                        ids.append(osm_id)
                        zz.append(z)
                        xs.append(cx)
                        ys.append(cy)
            yield pd.DataFrame({"osm_id": ids, "z": zz, "tile_x": xs, "tile_y": ys})

    from ..session import with_min_parallelism

    return with_min_parallelism(
        buildings.select("osm_id", "geometry", "ring_types")
    ).mapInPandas(_explode, schema=MULTI_CELLS_SCHEMA)


def building_cells(buildings: DataFrame, z: int = m.Z_LEAF) -> DataFrame:
    """buildings(osm_id, geometry, ring_types, …) → (osm_id, tile_x, tile_y) —
    one row per covering z-level cell, sorted per building."""
    return building_cells_multi(buildings, (z,)).select("osm_id", "tile_x", "tile_y")

