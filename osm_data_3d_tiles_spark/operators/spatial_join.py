"""Cell-prefiltered ray-casting point-in-polygon join.

The flagship operator (north rule): pages (fact, 10^12 rows at target scale) join
buildings (dimension) without ever shuffling the fact table —

1. build side: buildings exploded to covering z20 cells (operators.cells); a
   cell is the coarse prefilter, exactly the role MVT tile membership plays in
   the reference (b3dmGenerator.ts:109-113);
2. broadcast probe (a bounded dimension): the driver packs the cells into a CSR
   cell index (the cell ids sorted, with the osm_id of each) and the rings
   into a CSR edge table (`geometry.ring_edge_table`: sorted osm_ids, edge
   offsets, flat edges), and broadcasts the pair once. The points meet it in
   one Arrow `mapInArrow` stage with no JVM join: each batch is one numpy pass
   (`_probe`) — the cell of each point by `mercator.tile_xy`, the IEEE floor
   formula of `mercator.tile_x_col`/`tile_y_col`, two `searchsorted` calls
   for its run of candidate buildings, then `geometry.points_in_edge_table`,
   whose keep mask is bit-identical to `points_in_polygon`
   (src/math/utils.ts:29-46 semantics). Only the matches leave Python. The
   flagship's `geotag_join` runs the same pass over (lat, lon), with the
   EPSG:3857 projection folded in;
3. cogroup refine (planet scale): the points get their cell as native Column
   math, equi-join the broadcast (cell, osm_id) table in the JVM, and the
   candidates cogroup with the geometry on osm_id. The refine builds the same
   edge table from its one-building group and calls the same kernel.

Skew: dense cities produce hot cells. Neither probe has a shuffle to skew on
the fact side; downstream aggregations over cell/tile keys use `salted_count`
(two-phase agg) or AQE skew-join handling (enabled in session.py).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as g
from ..functions import mercator as m
from .cells import building_cells, with_cell_id

# The prefilter's cell level (~38 m cells; see `spatial_join`).
Z_JOIN = 20


def pages_with_cell(pages_pts: DataFrame, z: int = m.Z_LEAF) -> DataFrame:
    """Attach tile/cell columns to a point table (x, y in EPSG:3857) using native
    Column math only — stays in whole-stage codegen.

    A point off the z grid gets a null cell, as in `_grid_cells`: no cell
    there holds a building, and the packed id of, say, lat -90 (y = -inf)
    would overflow a long. Spark sorts NaN above every double, so a NaN
    coordinate fails the `< 2^z` test."""
    span, n = m.tile_span(z), 1 << z
    gx = (F.col("x") + F.lit(m.HALF_SIZE)) / F.lit(span)
    gy = (F.lit(m.HALF_SIZE) - F.col("y")) / F.lit(span)
    on_grid = (gx >= 0) & (gx < n) & (gy >= 0) & (gy < n)
    return (
        pages_pts.withColumn("tile_x", m.tile_x_col(F.col("x"), z))
        .withColumn("tile_y", m.tile_y_col(F.col("y"), z))
        .withColumn("cell", F.when(on_grid, m.cell_id_col(F.col("tile_x"), F.col("tile_y"), z)))
    )


class _ProbeIndex(NamedTuple):
    """The broadcast value of the probe: a CSR cell index and an edge table."""

    z: int
    cells: np.ndarray  # z-level cell ids, sorted
    osm_ids: np.ndarray  # the building each cell id belongs to
    edges: tuple[np.ndarray, np.ndarray, np.ndarray]  # geometry.ring_edge_table


def _grid_cells(tx: np.ndarray, ty: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """(positions, cell ids) of the (tx, ty) on the z grid. A cell off the
    grid, or a NaN one, holds no building, so it gets no cell id."""
    n = 1 << z
    on = np.flatnonzero((tx >= 0) & (tx < n) & (ty >= 0) & (ty < n))
    return on, m.cell_id(tx[on], ty[on], z)


def _probe_index(cells: DataFrame, buildings: DataFrame, z: int) -> _ProbeIndex:
    """Collect cells(osm_id, tile_x, tile_y) and buildings(osm_id, geometry)
    into a `_ProbeIndex`, on the driver."""
    c = cells.select("osm_id", "tile_x", "tile_y").toPandas()
    on, keys = _grid_cells(c["tile_x"].to_numpy(np.int64), c["tile_y"].to_numpy(np.int64), z)
    ids = c["osm_id"].to_numpy(np.int64)[on]
    order = np.lexsort((ids, keys))
    geom_rows = buildings.select("osm_id", "geometry").collect()
    edges = g.ring_edge_table((row["osm_id"], row["geometry"]) for row in geom_rows)
    return _ProbeIndex(z, keys[order], ids[order], edges)


def _probe(x: np.ndarray, y: np.ndarray, index: _ProbeIndex) -> tuple[np.ndarray, np.ndarray]:
    """(row, osm_id) of every point (x[row], y[row]) inside building osm_id.

    The point's cell is `mercator.tile_xy`, the cell the JVM computes. Its
    candidates are the index run of that cell, found with two `searchsorted`
    calls; `points_in_edge_table` keeps the candidates the point is inside
    of. Rows come out in point order, and per point in osm_id order."""
    row, cell = _grid_cells(*m.tile_xy(x, y, index.z), index.z)
    lo = np.searchsorted(index.cells, cell, "left")
    n = np.searchsorted(index.cells, cell, "right") - lo
    row = np.repeat(row, n)
    cand = np.arange(row.size) + np.repeat(lo - (np.cumsum(n) - n), n)
    ids = index.osm_ids[cand]
    keep = g.points_in_edge_table(x[row], y[row], ids, index.edges)
    return row[keep], ids[keep]


def _probe_batches(batches, index_bc, page_cols: list[str], point_cols: tuple[str, str],
                   lonlat: bool):
    """mapInArrow body of the broadcast probe: (page_cols…, osm_id) of every
    match in each batch."""
    import pyarrow as pa

    index = index_bc.value  # once per worker
    for rb in batches:
        a, b = (rb.column(c).to_numpy(zero_copy_only=False) for c in point_cols)
        x, y = m.lonlat_to_3857(b, a) if lonlat else (a, b)
        row, osm_id = _probe(x, y, index)
        yield rb.select(page_cols).take(pa.array(row)).append_column(
            "osm_id", pa.array(osm_id, pa.int64()))


def _broadcast_probe(
    points: DataFrame,
    buildings: DataFrame,
    cells: DataFrame,
    z: int,
    page_cols: tuple[str, ...],
    lonlat: bool,
) -> DataFrame:
    from ..session import with_min_parallelism

    spark = buildings.sparkSession
    index_bc = spark.sparkContext.broadcast(_probe_index(cells, buildings, z))
    point_cols = ("lat", "lon") if lonlat else ("x", "y")
    page_cols = list(page_cols)
    schema = T.StructType(
        [points.schema[c] for c in page_cols] + [T.StructField("osm_id", T.LongType())]
    )
    # the local-mode round-robin, on the narrow columns the probe reads
    narrow = with_min_parallelism(points.select(*dict.fromkeys(page_cols + list(point_cols))))
    return narrow.mapInArrow(
        lambda batches: _probe_batches(batches, index_bc, page_cols, point_cols, lonlat), schema
    )


def geotag_join(points: DataFrame, buildings: DataFrame, cells: DataFrame) -> DataFrame:
    """points(url, lat, lon) ⋈ buildings(osm_id, geometry) over their
    covering `Z_JOIN` cells(osm_id, tile_x, tile_y) → (url, osm_id): the
    flagship's join. The broadcast probe of `spatial_join`, with the numpy
    EPSG:3857 projection in the same pass, so the points cross into Python
    once and only the matches come back. The projection is `lonlat_to_3857`,
    bit-identical to the Python reference."""
    return _broadcast_probe(points, buildings, cells, Z_JOIN, ("url",), lonlat=True)


# Above this many buildings the geometry dimension no longer belongs in a
# driver-materialized Python broadcast (unbounded driver memory + one fat
# pickle to every worker): the refine switches to the cogrouped path.
BROADCAST_GEOM_MAX_BUILDINGS = 200_000


def spatial_join(
    pages_pts: DataFrame,
    buildings: DataFrame,
    z: int = Z_JOIN,
    page_cols: tuple[str, ...] = ("url",),
    precomputed_cells: DataFrame | None = None,
    refine: str = "auto",
) -> DataFrame:
    """pages_pts(url, x, y, …) ⋈ buildings(osm_id, geometry, ring_types, …) →
    (page_cols…, osm_id), one row per (page, containing building). Exact
    ray-cast semantics after the cell prefilter.

    Prefilter granularity: z=20 cells (~38 m) — building-sized, so the candidate
    set stays within a small factor of the true matches. The z16 tile grid the
    reference rides (611 m) is the *tile-assignment* unit, not a selective PIP
    prefilter: at z16 a dense-city cell holds hundreds of buildings and the
    candidate blow-up was measured at ~560× the final rows (9.6 M candidates for
    17 k matches on the sf0.1 fixture). The refine is exact, so z only trades
    prefilter selectivity against covering-cell count — results are identical.

    Geometry never rides a join: attaching the nested geometry arrays as a
    join column would duplicate them onto every candidate row and melt the
    Arrow transfer + JVM heap exactly where candidates are densest (hot
    cells). Two strategies deliver the rings instead (`refine=`):

    - ``"broadcast"`` — the cell index and the CSR edge table as one Spark
      broadcast variable, probed in one `mapInArrow` pass (no JVM join, no
      shuffle). Requires materializing the dimension on the driver, so it is
      bounded by `BROADCAST_GEOM_MAX_BUILDINGS`.
    - ``"cogroup"`` — a JVM cell equi-join against the broadcast (cell,
      osm_id) table, then the candidates cogrouped with the deduped geometry
      table on osm_id (`applyInPandas` over the cogroup): geometry crosses the
      wire once per building, never per candidate, nothing touches the
      driver. Costs one shuffle of the CANDIDATE set (≈ small multiple of the
      true matches at z20, orders of magnitude below the fact table) — the
      planet-scale path.
    - ``"auto"`` — broadcast below the threshold, cogroup above.
    """
    base_cells = (
        precomputed_cells if precomputed_cells is not None else building_cells(buildings, z)
    )

    if refine == "auto":
        # decision probe bounded by the threshold itself: limit(k+1).count()
        # short-circuits once k+1 rows are found instead of scanning (and
        # fully aggregating) the whole dimension — a full count() here was a
        # wasted job per call on planet-sized building tables
        probe_n = (
            buildings.select("osm_id").limit(BROADCAST_GEOM_MAX_BUILDINGS + 1).count()
        )
        refine = "broadcast" if probe_n <= BROADCAST_GEOM_MAX_BUILDINGS else "cogroup"

    if refine == "broadcast":
        return _broadcast_probe(pages_pts, buildings, base_cells, z, page_cols, lonlat=False)

    from ..session import with_min_parallelism

    cells = with_cell_id(base_cells, z).select("osm_id", "cell")
    probe = pages_with_cell(with_min_parallelism(pages_pts), z)
    cand = probe.join(F.broadcast(cells), "cell")
    out_fields = [cand.schema[c] for c in page_cols] + [cand.schema["osm_id"]]
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
    needed = list(dict.fromkeys([*page_cols, "x", "y", "osm_id"]))
    return (
        cand.select(*needed)
        .groupBy("osm_id")
        .cogroup(geom.groupBy("osm_id"))
        .applyInPandas(lambda _k, c, b: _refine_cogrouped(c, b), schema=schema)
    )


def salted_count(df: DataFrame, key_cols: list[str], n_salt: int = 32) -> DataFrame:
    """Two-phase (salted) count for skewed keys: pre-aggregate on (key, salt), then
    combine — bounds any single reducer's input even for a city-sized hot cell."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.monotonically_increasing_id()), F.lit(n_salt))
    partial = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(F.count("*").alias("_cnt"))
    return partial.groupBy(*key_cols).agg(F.sum("_cnt").alias("count"))
