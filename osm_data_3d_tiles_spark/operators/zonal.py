"""Raster ↔ vector zonal statistics (graft operator; north rule).

Rasterize each polygon footprint to its covering cells with the reference's
triangle-rasterization kernel (src/building/roof/utils.ts:420-476 semantics via
operators.cells), equi-join the cell-valued raster table on (cell_x, cell_y), and
aggregate per polygon — sum / avg / min / max / count as native Spark aggregates.

At scale the raster table is cell-partitioned parquet, so the join prunes to the
polygon extent; the footprint explosion is on the small vector side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import building_cells


def zonal_stats(buildings: DataFrame, raster: DataFrame) -> DataFrame:
    """buildings(osm_id, geometry, ring_types) × raster(cell_x, cell_y, value)
    on the z16 grid → (osm_id, cell_count, value_sum, value_avg, value_min,
    value_max)."""
    cells = building_cells(buildings, 16)
    joined = cells.join(
        raster.select(
            F.col("cell_x").alias("tile_x"), F.col("cell_y").alias("tile_y"), "value"
        ),
        ["tile_x", "tile_y"],
    )
    return joined.groupBy("osm_id").agg(
        F.count("*").alias("cell_count"),
        F.sum("value").alias("value_sum"),
        F.avg("value").alias("value_avg"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


def overlay_area_join(rects: DataFrame, zones: DataFrame) -> DataFrame:
    """Polygon-overlay area join for axis-aligned footprints: every
    (building, zone) pair with positive intersection, plus the exact
    intersection area in scaled integer cents.

    rects(osm_id, x0, y0, x1, y1) × zones(zone_id, zx0, zy0, zx1, zy1) →
    (osm_id, zone_id, overlap_area_c).

    Plan shape: zones are a dimension (admin boundaries, grid cells) —
    broadcast them and let the clipped-extent predicate run inside the
    broadcast join; the big fact side is never shuffled. Arbitrary-polygon
    overlays ride the same plan with the clip kernel swapped in
    (Sutherland–Hodgman in an Arrow stage); the rect case keeps the whole
    computation JVM-side in whole-stage codegen.
    """
    ow = F.least(F.col("x1"), F.col("zx1")) - F.greatest(F.col("x0"), F.col("zx0"))
    oh = F.least(F.col("y1"), F.col("zy1")) - F.greatest(F.col("y0"), F.col("zy0"))
    return (
        rects.join(
            F.broadcast(zones),
            (F.col("x0") < F.col("zx1"))
            & (F.col("x1") > F.col("zx0"))
            & (F.col("y0") < F.col("zy1"))
            & (F.col("y1") > F.col("zy0")),
        )
        .select(
            "osm_id",
            "zone_id",
            F.floor(ow * oh * 100 + F.lit(0.5)).cast("long").alias("overlap_area_c"),
        )
    )


def _axis_t(kind: str, a0: str, a1: str, z0: str, z1: str) -> str:
    """Liang-Barsky per-axis parametric clip bound as a SQL fragment.

    kind='in' -> the t at which the segment ENTERS the [z0, z1] slab,
    kind='out' -> the t at which it EXITS. Degenerate axis (d == 0):
    +/-1e30 sentinels stand in for +/-infinity (an axis-parallel segment is
    either always inside the slab or never). The fragment is shared
    VERBATIM with the DuckDB oracle so both engines evaluate the identical
    IEEE expression tree — division, multiply and SQRT are all correctly
    rounded per IEEE 754, so the outputs are bit-equal (unlike libm trig).
    """
    d = f"({a1} - {a0})"
    lo, hi = f"(({z0}) - {a0}) / {d}", f"(({z1}) - {a0}) / {d}"
    if kind == "in":
        first, inside, outside = (lo, hi), "-1e30", "1e30"
    else:
        first, inside, outside = (hi, lo), "1e30", "-1e30"
    return (
        f"CASE WHEN {d} > 0e0 THEN {first[0]} "
        f"WHEN {d} < 0e0 THEN {first[1]} "
        f"WHEN {a0} >= ({z0}) AND {a0} <= ({z1}) THEN {inside} "
        f"ELSE {outside} END"
    )


SEG_T0_SQL = (
    "GREATEST(0e0, "
    + _axis_t("in", "x0", "x1", "zx0", "zx1")
    + ", "
    + _axis_t("in", "y0", "y1", "zy0", "zy1")
    + ")"
)
SEG_T1_SQL = (
    "LEAST(1e0, "
    + _axis_t("out", "x0", "x1", "zx0", "zx1")
    + ", "
    + _axis_t("out", "y0", "y1", "zy0", "zy1")
    + ")"
)
# per-segment clipped length in integer cents — floored BEFORE the sum so the
# per-zone aggregate is an order-independent integer sum
SEG_LEN_C_SQL = (
    "CAST(FLOOR((t1 - t0) * "
    "SQRT((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)) * 100 + 0.5) AS BIGINT)"
)


def segment_zone_length(segments: DataFrame, zones: DataFrame) -> DataFrame:
    """Per-zone clipped polyline length: segments(seg_id, x0, y0, x1, y1) ×
    zones(zone_id, zx0, zy0, zx1, zy1) → (zone_id, n_segments,
    length_sum_c) where length_sum_c sums each segment's length INSIDE the
    zone, in integer cents ("road length per admin area").

    Liang–Barsky parametric clipping stated as plain SQL expressions, so
    the whole kernel runs inside whole-stage codegen on the broadcast join:
    the fact side is never shuffled until the final per-zone aggregate
    (25-ish rows). Segments lying exactly on a shared zone edge count for
    BOTH zones (inclusive slab tests — the overlay convention the rect
    overlay join uses too).
    """
    bbox = (
        (F.least("x0", "x1") <= F.col("zx1"))
        & (F.greatest("x0", "x1") >= F.col("zx0"))
        & (F.least("y0", "y1") <= F.col("zy1"))
        & (F.greatest("y0", "y1") >= F.col("zy0"))
    )
    return (
        segments.join(F.broadcast(zones), bbox)
        .withColumn("t0", F.expr(SEG_T0_SQL))
        .withColumn("t1", F.expr(SEG_T1_SQL))
        .filter(F.col("t1") > F.col("t0"))
        .withColumn("len_c", F.expr(SEG_LEN_C_SQL))
        .groupBy("zone_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("len_c").alias("length_sum_c"),
        )
    )
