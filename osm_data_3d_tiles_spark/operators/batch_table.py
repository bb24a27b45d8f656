"""Per-tile batch tables — the columnar pivot the reference packs into each B3DM.

Reference semantics (b3dmGenerator.ts:211-247): for every tile, `groupByKeys` pivots
the per-building rows into {key: [v0, v1, …]} with BATCH_LENGTH = number of
buildings; each row is getBuildingParams(props) plus:
- boxCenter = transform(feature.getFlatMidpoint(), 3857→4326) with z pinned to 10,
- osm_url from (osm_id, osm_type).

Spark shape: a tile's batch table is built in Python from the tile's buildings,
next to its 3D geometry. `build3d.build_tiles_3d` calls `tile_batch_table` inside
its per-tile `applyInPandas`, so `cli seed` sends every building through Python
once and shuffles on tile_key once; `batch_tables` runs the same helper behind a
`groupBy(tile_key).applyInPandas` of its own, for callers that want the table
alone. `osm_url` is a JVM column computed before the group. Buildings are in
ascending osm_id order (a stable sort, the build's order), so the output is
deterministic under any partitioning — the reference gets its order from MVT
feature order; we normalize to osm_id and pin that in goldens. A null and a
NaN both come out as null.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as g
from ..functions import mercator as m
from ..functions.params import has_building_params, osm_url_col, with_building_params

BATCH_COLUMNS = [
    "label",
    "building_levels",
    "building_height",
    "building_min_height",
    "building_roof_height",
    "building_roof_type",
    "building_roof_material",
    "building_roof_color",
    "building_facade_material",
    "building_facade_color",
    "building_windows",
    "building_foundation",
    "rnb",
    "is_part",
    "building",
    "station_id",
    "lcz_outline_id",
    "osm_url",
]


def batch_input(buildings_with_params: DataFrame) -> tuple[DataFrame, list[T.StructField]]:
    """(the buildings with `osm_url` added when they carry `osm_type`, the
    fields of their batch table). The fields are one array per BATCH_COLUMNS
    column present, of that column's type, then `box_center` and `osm_id`."""
    df = buildings_with_params
    if "osm_type" in df.columns:
        df = df.withColumn("osm_url", osm_url_col(F.col("osm_id"), F.col("osm_type")))
    fields = [T.StructField(c, T.ArrayType(df.schema[c].dataType))
              for c in BATCH_COLUMNS if c in df.columns]
    fields += [
        T.StructField("box_center", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("osm_id", T.ArrayType(df.schema["osm_id"].dataType)),
    ]
    return df, fields


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _python_values(values: pd.Series, dtype: T.DataType) -> list:
    """One column as plain Python values of its Spark type, nulls and NaNs as
    None. pandas hands a nullable bigint over as float64 and a boolean
    possibly as numpy.bool_; both go back to int and bool here."""
    if isinstance(dtype, T.BooleanType):
        cast = bool
    elif isinstance(dtype, T.IntegralType):
        cast = int
    elif isinstance(dtype, (T.DoubleType, T.FloatType)):
        cast = float
    else:
        return [None if _is_null(v) else v for v in values]
    return [None if _is_null(v) else cast(v) for v in values]


def _box_center(rings_raw) -> list[float]:
    """boxCenter = [lon, lat, 10] of the polygon's interior point (OL
    getFlatMidpoint semantics — widest-centerline-segment midpoint),
    transformed 3857→4326 with the OL closed forms."""
    rings = [
        np.asarray([[float(p[0]), float(p[1])] for p in ring], dtype=np.float64)
        for ring in rings_raw
    ]
    ix, iy = g.interior_point(rings)
    lon, lat = m.merc_to_lonlat(np.array([ix]), np.array([iy]))
    return [float(lon[0]), float(lat[0]), 10.0]


def tile_batch_table(pdf: pd.DataFrame, fields: list[T.StructField]) -> dict[str, list]:
    """The batch table of one tile's buildings (`pdf`, in osm_id order):
    {field name: [one value per building]}, in the order of `fields`
    (`batch_input`)."""
    table = {}
    for f in fields:
        if f.name == "box_center":
            table[f.name] = [_box_center(rings) for rings in pdf["geometry"]]
        else:
            table[f.name] = _python_values(pdf[f.name], f.dataType.elementType)
    return table


def batch_tables(buildings_with_tile: DataFrame) -> DataFrame:
    """buildings (with params inputs + tile_key) → one row per tile:
    (tile_key, batch_length, <pivoted batch columns>, box_center, osm_id),
    batch_length counting every building of the tile.

    The derived params are taken as they are when the input already carries
    them, and derived here otherwise. The table of each tile is the one
    `build_tiles_3d` emits with its geometry."""
    src = (buildings_with_tile if has_building_params(buildings_with_tile)
           else with_building_params(buildings_with_tile))
    src, fields = batch_input(src)
    schema = T.StructType([
        T.StructField("tile_key", T.StringType()),
        T.StructField("batch_length", T.LongType()),
        *fields,
    ])

    def _table(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("osm_id", kind="mergesort")
        table = tile_batch_table(pdf, fields)
        return pd.DataFrame({
            "tile_key": [pdf["tile_key"].iloc[0]],
            "batch_length": [len(pdf)],
            **{name: [values] for name, values in table.items()},
        })

    narrow = src.select("tile_key", "geometry", *(f.name for f in fields if f.name in src.columns))
    return narrow.groupBy("tile_key").applyInPandas(_table, schema=schema)
