"""Tile-pyramid rollup — multi-resolution aggregation over the web-mercator
tile grid.

The reference engine materializes one LOD level at a time (heat-map thinning
per tile, `tile3d-features-to-buffers-converter.ts`); a serving pyramid
(z_min..z_leaf heat-map / count / stats tiles, tippecanoe-style) needs every
level in one pass. This operator produces per-tile aggregates for ALL zoom
levels between z_leaf and z_min from a single input scan.

Scale shape (the 100 TB story):

- **one raw shuffle, total**: the input points are aggregated ONCE at z_leaf
  (partial map-side combine, shuffle keyed on the leaf cell). Every coarser
  level derives from that persisted leaf aggregate, never from the raw rows.
- **coarser levels are almost free**: the parent key is a bit shift
  (`tile >> dz` — exact floor-by-2^dz for the non-negative tile coords), so
  each level's groupBy partial-aggregates 4^dz:1 per mapper before its
  shuffle; level z ships at most |distinct leaf cells| / 4^(z_leaf-z) rows.
  Total shuffle across the pyramid is a geometric series ≈ 1.33 × |leaf
  cells|, independent of the raw row count.
- **re-aggregatable measures only**: count, sum, min, max — the algebraic
  aggregates that commute with the rollup (mean = sum/count at read time).
  That restriction is what lets parents derive from children instead of
  re-scanning raw data; it is the same contract a streaming/hypertable
  rollup imposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _register_persist


def pyramid_rollup(
    points: DataFrame,
    z_leaf: int,
    z_min: int,
    measure_col: str | None = None,
) -> DataFrame:
    """Per-tile aggregates for every zoom in [z_min, z_leaf].

    `points` carries one row per point with leaf-level tile coordinates
    `tile_x`, `tile_y` (non-negative — web-mercator tiles). Output rows:
    (z INT, tile_x, tile_y, n) plus, when `measure_col` is given,
    (m_sum, m_min, m_max) over that column. Sums keep the input column's
    type — pass an integral measure when exact cross-engine equality
    matters (fp addition does not commute with regrouping).
    """
    if z_min > z_leaf:
        raise ValueError(f"z_min {z_min} must be <= z_leaf {z_leaf}")

    aggs = [F.count(F.lit(1)).alias("n")]
    roll = [F.sum("n").alias("n")]
    if measure_col is not None:
        aggs += [
            F.sum(measure_col).alias("m_sum"),
            F.min(measure_col).alias("m_min"),
            F.max(measure_col).alias("m_max"),
        ]
        roll += [
            F.sum("m_sum").alias("m_sum"),
            F.min("m_min").alias("m_min"),
            F.max("m_max").alias("m_max"),
        ]

    leaf = (
        points.groupBy(
            F.col("tile_x").cast("long").alias("tile_x"),
            F.col("tile_y").cast("long").alias("tile_y"),
        )
        .agg(*aggs)
    )
    # the leaf aggregate feeds every level's plan branch — persist it so the
    # raw scan happens once (registered for dedup.unpersist_all cleanup)
    leaf = _register_persist(leaf.persist())

    levels = []
    for z in range(z_leaf, z_min - 1, -1):
        dz = z_leaf - z
        if dz == 0:
            lvl = leaf
        else:
            lvl = (
                leaf.groupBy(
                    F.shiftright("tile_x", dz).alias("tile_x"),
                    F.shiftright("tile_y", dz).alias("tile_y"),
                )
                .agg(*roll)
            )
        levels.append(lvl.select(F.lit(z).cast("int").alias("z"), "*"))

    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out
