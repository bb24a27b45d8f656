"""Heat-map LOD thinning — per-grid-cell instance sampling for lower LODs.

Reference: /root/reference/src/building/tile3d-features-to-buffers-converter.ts
:530-558 (`clearInstancesWithHeatMap`): bucket instances into a resolution²
grid over the tile (TileSize = 611.4962158203125 = the z16 tile span in
EPSG:3857 meters), keep `max(round(n·fraction), 1)` per non-empty cell. The
reference picks the survivors with `Math.random` (`getRandom`,
:3-15) — non-deterministic; per SURVEY.md §2.4 the engine pins the
deterministic equivalent: survivors are the first m instances by ascending id
within the cell. That also makes the operator ANSI-SQL-stateable for the oracle.

Spark shape: one window over (cell) — a single shuffle on the grid cell; the
grid key is native floor math (whole-stage codegen)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import mercator as m

TILE_SIZE = m.tile_span(16)  # 611.4962158203125, the constant at :535
RESOLUTION = 12


def lod_thinning(instances: DataFrame, fraction: float) -> DataFrame:
    """Keep max(round(n·fraction), 1) instances per heat-map cell, survivors =
    lowest ids. Input coordinates are tile-local ([0, TILE_SIZE))."""
    cell = (
        F.floor(F.col("local_x") / TILE_SIZE * RESOLUTION)
        + F.floor(F.col("local_y") / TILE_SIZE * RESOLUTION) * RESOLUTION
    ).alias("heat_cell")
    w = Window.partitionBy("heat_cell").orderBy("instance_id")
    n = Window.partitionBy("heat_cell")
    return (
        instances.select("*", cell)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(n))
        .filter(
            F.col("_rn")
            <= F.greatest(F.floor(F.col("_n") * F.lit(fraction) + F.lit(0.5)), F.lit(1))
        )
        .drop("_rn", "_n")
    )
