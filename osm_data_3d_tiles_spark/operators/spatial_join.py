"""Broadcast cell-prefiltered ray-casting point-in-polygon join.

The flagship operator (north rule): pages (fact, 10^12 rows at target scale) join
buildings (dimension) without ever shuffling the fact table —

1. build side: buildings exploded to covering z16 cells (operators.cells), geometry
   attached, marked `F.broadcast` → BroadcastHashJoinExec, no exchange on pages;
2. probe side: page points carry a native-expression cell id (JVM-side floor math,
   whole-stage codegen, pushed past the parquet scan);
3. equi-join on cell = the coarse prefilter (exactly the role MVT tile membership
   plays in the reference, b3dmGenerator.ts:109-113);
4. exact refinement: vectorized even-odd ray-cast PIP (src/math/utils.ts:29-46
   semantics) in one Arrow `mapInPandas` stage over a CSR edge table of the
   buildings (`geometry.ring_edge_table`: sorted osm_ids, edge offsets, flat
   edges), broadcast once. Each batch is one numpy pass
   (`geometry.points_in_edge_table`): look up each candidate's edges, apply
   `points_in_ring`'s crossing arithmetic to every (point, edge) pair, count
   crossing parity per candidate. The keep mask is bit-identical to
   `points_in_polygon`. The cogroup refine builds the same table from its
   one-building group and calls the same kernel.

Skew: dense cities produce hot cells. The broadcast join itself has no shuffle to
skew; downstream aggregations over cell/tile keys use `salted_count` (two-phase
agg) or AQE skew-join handling (enabled in session.py).
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
from .cells import building_cells, with_cell_id


def pages_with_cell(pages_pts: DataFrame, z: int = m.Z_LEAF) -> DataFrame:
    """Attach tile/cell columns to a point table (x, y in EPSG:3857) using native
    Column math only — stays in whole-stage codegen."""
    return (
        pages_pts.withColumn("tile_x", m.tile_x_col(F.col("x"), z))
        .withColumn("tile_y", m.tile_y_col(F.col("y"), z))
        .withColumn("cell", m.cell_id_col(F.col("tile_x"), F.col("tile_y"), z))
    )


def _pip_refine_factory(
    point_cols: tuple[str, str], out_fields: list[T.StructField], table_bc
):
    schema = T.StructType(out_fields)
    names = [f.name for f in out_fields]
    px_col, py_col = point_cols

    def _refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = table_bc.value  # CSR edge table, once per worker
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = g.points_in_edge_table(
                pdf[px_col].to_numpy(dtype=np.float64),
                pdf[py_col].to_numpy(dtype=np.float64),
                pdf["osm_id"].to_numpy(dtype=np.int64),
                table,
            )
            yield pdf.loc[keep, names]

    return _refine, schema


# Above this many buildings the geometry dimension no longer belongs in a
# driver-materialized Python broadcast (unbounded driver memory + one fat
# pickle to every worker): the refine switches to the cogrouped path.
BROADCAST_GEOM_MAX_BUILDINGS = 200_000


def spatial_join(
    pages_pts: DataFrame,
    buildings: DataFrame,
    z: int = 20,
    page_cols: tuple[str, ...] = ("url",),
    building_cols: tuple[str, ...] = ("osm_id",),
    precomputed_cells: DataFrame | None = None,
    refine: str = "auto",
) -> DataFrame:
    """pages_pts(url, x, y, …) ⋈ buildings(osm_id, geometry, ring_types, …) →
    one row per (page, containing building). Exact ray-cast semantics after the
    broadcast cell prefilter.

    Prefilter granularity: z=20 cells (~38 m) — building-sized, so the candidate
    set stays within a small factor of the true matches. The z16 tile grid the
    reference rides (611 m) is the *tile-assignment* unit, not a selective PIP
    prefilter: at z16 a dense-city cell holds hundreds of buildings and the
    candidate blow-up was measured at ~560× the final rows (9.6 M candidates for
    17 k matches on the sf0.1 fixture). The refine is exact, so z only trades
    prefilter selectivity against covering-cell count — results are identical.

    Geometry never rides the join: the equi-join carries only (cell, osm_id) on
    the broadcast side. Attaching the nested geometry arrays as a join column
    would duplicate them onto every candidate row and melt the Arrow transfer +
    JVM heap exactly where candidates are densest (hot cells). Two exact-refine
    strategies deliver the rings instead (`refine=`):

    - ``"broadcast"`` — CSR edge table as a Spark broadcast variable; zero shuffle
      anywhere (the fact table never exchanges). Requires materializing the
      dimension on the driver, so it is bounded by
      `BROADCAST_GEOM_MAX_BUILDINGS`.
    - ``"cogroup"`` — candidates cogrouped with the deduped geometry table on
      osm_id (`applyInPandas` over the cogroup): geometry crosses the wire once
      per building, never per candidate, nothing touches the driver. Costs one
      shuffle of the CANDIDATE set (≈ small multiple of the true matches at
      z20, orders of magnitude below the fact table) — the planet-scale path.
    - ``"auto"`` — broadcast below the threshold, cogroup above.
    """
    spark = buildings.sparkSession
    base_cells = (
        precomputed_cells if precomputed_cells is not None else building_cells(buildings, z)
    )
    cells = with_cell_id(base_cells, z).select("osm_id", "cell")
    extra = [c for c in building_cols if c != "osm_id"]
    build_side = (
        cells.join(buildings.select("osm_id", *extra), "osm_id") if extra else cells
    )

    from ..session import with_min_parallelism

    probe = pages_with_cell(with_min_parallelism(pages_pts), z)
    cand = probe.join(F.broadcast(build_side), "cell")

    out_fields = [cand.schema[c] for c in page_cols] + [cand.schema[c] for c in building_cols]
    needed = list(dict.fromkeys(list(page_cols) + list(building_cols) + ["x", "y", "osm_id"]))

    if refine == "auto":
        # decision probe bounded by the threshold itself: limit(k+1).count()
        # short-circuits once k+1 rows are found instead of scanning (and
        # fully aggregating) the whole dimension — a full count() here was a
        # wasted job per call on planet-sized building tables
        probe_n = (
            buildings.select("osm_id").limit(BROADCAST_GEOM_MAX_BUILDINGS + 1).count()
        )
        refine = "broadcast" if probe_n <= BROADCAST_GEOM_MAX_BUILDINGS else "cogroup"

    if refine == "cogroup":
        schema = T.StructType(out_fields)
        names = [f.name for f in out_fields]

        def _refine_cogrouped(cand_pdf: pd.DataFrame, geom_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(cand_pdf) == 0 or len(geom_pdf) == 0:
                return pd.DataFrame({n: [] for n in names})
            table = g.ring_edge_table(
                [(geom_pdf["osm_id"].iloc[0], geom_pdf["geometry"].iloc[0])]
            )
            keep = g.points_in_edge_table(
                cand_pdf["x"].to_numpy(dtype=np.float64),
                cand_pdf["y"].to_numpy(dtype=np.float64),
                cand_pdf["osm_id"].to_numpy(dtype=np.int64),
                table,
            )
            return cand_pdf.loc[keep, names]

        geom = buildings.select("osm_id", "geometry")
        return (
            cand.select(*needed)
            .groupBy("osm_id")
            .cogroup(geom.groupBy("osm_id"))
            .applyInPandas(lambda _k, c, b: _refine_cogrouped(c, b), schema=schema)
        )

    # broadcast refine: the CSR edge table once per worker via a Spark
    # broadcast variable
    geom_rows = buildings.select("osm_id", "geometry").collect()
    table = g.ring_edge_table((row["osm_id"], row["geometry"]) for row in geom_rows)
    table_bc = spark.sparkContext.broadcast(table)
    refine_fn, schema = _pip_refine_factory(("x", "y"), out_fields, table_bc)
    return cand.select(*needed).mapInPandas(refine_fn, schema=schema)


def salted_count(df: DataFrame, key_cols: list[str], n_salt: int = 32) -> DataFrame:
    """Two-phase (salted) count for skewed keys: pre-aggregate on (key, salt), then
    combine — bounds any single reducer's input even for a city-sized hot cell."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.monotonically_increasing_id()), F.lit(n_salt))
    partial = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(F.count("*").alias("_cnt"))
    return partial.groupBy(*key_cols).agg(F.sum("_cnt").alias("count"))
