"""Per-tile batch tables — the columnar pivot the reference packs into each B3DM.

Reference semantics (b3dmGenerator.ts:211-247): for every tile, `groupByKeys` pivots
the per-building rows into {key: [v0, v1, …]} with BATCH_LENGTH = number of
buildings; each row is getBuildingParams(props) plus:
- boxCenter = transform(feature.getFlatMidpoint(), 3857→4326) with z pinned to 10,
- osm_url from (osm_id, osm_type).

Spark shape: one `groupBy(tile_key).agg(...)` with order-pinned collect_lists
(array_sort over (osm_id, value) structs) so output is deterministic under any
partitioning — the reference gets its order from MVT feature order; we normalize to
osm_id ascending and pin that in goldens.
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


def with_box_center(buildings: DataFrame) -> DataFrame:
    """boxCenter = [lon, lat, 10] of the polygon's interior point (OL
    getFlatMidpoint semantics — widest-centerline-segment midpoint), computed in one
    Arrow stage, transformed 3857→4326 with the OL closed forms."""

    schema = T.StructType(
        buildings.schema.fields + [T.StructField("box_center", T.ArrayType(T.DoubleType()))]
    )

    def _add(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            centers = []
            for rings_raw in pdf["geometry"]:
                rings = [
                    np.asarray([[float(p[0]), float(p[1])] for p in ring], dtype=np.float64)
                    for ring in rings_raw
                ]
                ix, iy = g.interior_point(rings)
                lon, lat = m.merc_to_lonlat(np.array([ix]), np.array([iy]))
                centers.append([float(lon[0]), float(lat[0]), 10.0])
            pdf = pdf.copy()
            pdf["box_center"] = centers
            yield pdf

    from ..session import with_min_parallelism

    return with_min_parallelism(buildings).mapInPandas(_add, schema=schema)


def _pivot(col: str) -> F.Column:
    return F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("osm_id").alias("k"), F.col(col).alias("v")))),
        lambda s: s["v"],
    ).alias(col)


def batch_tables(buildings_with_tile: DataFrame) -> DataFrame:
    """buildings (with params inputs + tile_key) → one row per tile:
    (tile_key, batch_length, <pivoted batch columns>, box_center).

    The derived params are taken as they are when the input already carries
    them (the seed command derives them once for both the 3D build and this
    pivot), and derived here otherwise. Only the columns the pivot needs go
    through the box-center Arrow stage."""
    src = (buildings_with_tile if has_building_params(buildings_with_tile)
           else with_building_params(buildings_with_tile))
    keep = ["tile_key", "osm_id", "osm_type", "geometry"]
    keep += [c for c in BATCH_COLUMNS if c in src.columns]
    enriched = with_box_center(src.select(*keep)).withColumn(
        "osm_url", osm_url_col(F.col("osm_id"), F.col("osm_type"))
    )
    aggs = [F.count("*").alias("batch_length")]
    aggs += [_pivot(c) for c in BATCH_COLUMNS if c in enriched.columns]
    aggs += [_pivot("box_center"), _pivot("osm_id")]
    return enriched.groupBy("tile_key").agg(*aggs)
