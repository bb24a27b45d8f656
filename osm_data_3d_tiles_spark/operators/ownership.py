"""First-claimer-wins tile ownership (the dedup that replaces the reference's SQLite).

Reference semantics: each z16 tile claims the buildings it contains; a building that
spans several tiles belongs to the FIRST tile that claims it
(src/unique-tile-per-building.ts:29-63, `INSERT OR IGNORE` on osm_id PK). Seeding is
a sequential walk of the tileset (seed-b3dm.ts:25-35) whose order is: z12 subtiles in
OL forEachTileCoord order (x outer, y inner — generate-tileset.ts:39), then the 16×16
z16 children of each subtile in the same order (tileset.ts:17). So the deterministic
owner of a building is the minimum of its covering tiles under the key
(x16 // 16, y16 // 16, x16, y16).

Spark shape: `row_number() OVER (PARTITION BY osm_id ORDER BY order-key)` — a single
shuffle on osm_id over the (small) building-cells table; no side-state, identical
result at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import mercator as m


def owner_tiles(building_cells_df: DataFrame) -> DataFrame:
    """(osm_id, tile_x, tile_y) candidates → one (osm_id, tile_x, tile_y, tile_key)
    owner row per building."""
    w = Window.partitionBy("osm_id").orderBy(
        F.floor(F.col("tile_x") / 16),
        F.floor(F.col("tile_y") / 16),
        F.col("tile_x"),
        F.col("tile_y"),
    )
    return (
        building_cells_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("tile_key", m.tile_key_col(F.col("tile_x"), F.col("tile_y")))
    )
