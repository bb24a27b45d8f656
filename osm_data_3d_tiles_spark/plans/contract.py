"""Driver-contract query catalog: every operator from SURVEY.md §2 exposed as a
(spark, sf_dir) → DataFrame callable plus, where ANSI-SQL-expressible, a DuckDB
oracle producing identical rows.

Oracle-matching ground rules (fp determinism):
- spatial inputs are *derived deterministically from the registered tables*
  (documents → points, part → rectangle footprints) using only +, −, ×, ÷, %, floor
  over int64/float64 — IEEE-identical in Spark and DuckDB when the expression tree
  is the same;
- no ln/exp/atan in oracle-checked outputs (3857 coordinates are generated directly,
  never via lat/lon transforms);
- money-ish double sums are scaled to int64 before SUM (fp addition order is not
  associative across engines);
- every aggregate/computed column is aliased identically on both sides.

The rectangle-footprint queries exercise the REAL operators (cell explode via
triangulate+DDA rasterization, broadcast PIP join, ownership window, k-ring kNN,
zonal stats) — the oracle just happens to be able to state the expected result in
SQL because the footprints are axis-aligned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import mercator as m
from ..functions.params import HEIGHT_KERNEL_SQL, with_building_params
from ..operators.knn import knn_kring
from ..operators.ownership import owner_tiles
from ..operators.spatial_join import spatial_join
from ..operators.zonal import overlay_area_join, zonal_stats
from ..operators.cells import building_cells
from ..operators.dedup import exact_dedup

# ---------------------------------------------------------------------------
# driver-window ordering
# ---------------------------------------------------------------------------

# The correctness driver checks only the FIRST 50 entries of ``queries()`` in
# registry order (verified round 3: CORRECTNESS_r03 rows = positions 0-49
# exactly). Round 3 green-checked 50 queries; these are the 46 that have no
# round-3 driver row (plus any round-4 additions appended below). Leading with
# them makes CORRECTNESS_r03 ∪ CORRECTNESS_r04 cover every registered query.
# Round-5 policy (round-4 VERDICT ask #2 + ADVICE): freshness-first — the
# window LEADS with queries whose engine modules changed since their last
# green driver row, so no behavior change ever merges unverified behind a
# stale row. Tiers, in order:
#   (a) round-5 additions (never driver-checked anywhere);
#   (b) queries over modules edited in round 5 (their r4 rows are stale):
#       similarity.py (ann family, embedding dedup), multimodal.py
#       (decode/resize), skeleton{,_roofs}.py → build3d roof outputs;
#   (c) queries over modules edited in round 4 whose last row is r3:
#       components.py → dedup_clusters, streaming/events.py → events_*,
#       knn.py → knn_topk/knn_hex_topk, spatial_join.py →
#       pip_join_docs_rects, funnel_counts (r4 tagged-union rewrite);
#   (d) backfill: remaining r3-window queries oldest-first (unchanged
#       modules; their rows age to 2 rounds if they miss the cut — the
#       freshness table in BASELINE.md records exactly which).
DRIVER_WINDOW_PRIORITY = [
    # (a) round-5 additions
    "dedup_exact_substring",
    "semdedup",
    "bpe_merges",
    "dsir_select",
    "mix_domains_temperature",
    "jpeg_decode_stats",
    "webp_decode_stats",
    # (b) round-5-changed modules
    "ann_topk",
    "ann_ivf_topk",
    "ann_ivf_pq_topk",
    "dedup_embedding_cosine",
    "multimodal_features",
    "multimodal_resize",
    "png_decode_stats",
    "quantized_tile_stats",
    "build3d_tiles",
    "build3d_rect_metrics",
    "building_labels",
    "flagship_pages_pipeline",
    "pagerank_fixed",
    # (c) round-4-changed modules with r3-only rows
    "dedup_clusters",
    "events_tumbling_counts",
    "events_sliding_counts",
    "events_enriched_counts",
    "events_sessionize",
    "events_dedup_watermark",
    "click_attribution",
    "knn_topk",
    "knn_hex_topk",
    "pip_join_docs_rects",
    "funnel_counts",
    # (d) r3-window backfill, r3 relative order (stable scan/agg shapes that
    # are also pytest+bench-covered sit at the tail and may age one extra
    # round)
    "layer_filter",
    "tile_assign_docs",
    "hex_cell_counts",
    "tile_ownership",
    "tile_pyramid_counts",
    "batch_table_pivot",
    "bbox_union_per_tile",
    "overlay_zones",
    "road_zone_length",
    "zonal_stats_rects",
    "interior_point_rects",
    "height_params",
    "join_topk_revenue",
    "window_top_orders_per_customer",
    "asof_rate_join",
    "pricing_rollup",
    "distinct_kmv_users",
    "table_digest",
    "snapshot_diff",
    "interval_join_counts",
    "tile_window_counts",
    "cdc_apply",
    "user_retention_days",
    "user_scd2",
    "events_cube",
    "rolling_hour_stats",
    "dedup_exact",
    "decontaminate_ngram",
    "dedup_text_chunks",
    "pack_sequences",
    "tfidf_top_terms",
    "agg_pricing_summary",
    "revenue_by_nation",
    "token_count",
    "token_count_bpe",
    "lineitem_unpivot",
    "windows_denylist",
    "osm_url",
]


def order_for_driver(catalog: dict) -> dict:
    """Reorder a query catalog so never-driver-checked names come first.

    Names in ``DRIVER_WINDOW_PRIORITY`` (that exist in the catalog) lead, in
    priority order; everything else follows in its original insertion order.
    """
    prioritized = {n: catalog[n] for n in DRIVER_WINDOW_PRIORITY if n in catalog}
    rest = {n: fn for n, fn in catalog.items() if n not in prioritized}
    prioritized.update(rest)
    return prioritized


# ---------------------------------------------------------------------------
# deterministic derivations (identical formulas in Spark + SQL)
# ---------------------------------------------------------------------------

EXT = m.tile_extent(12, 2103, 1461)  # the fixture z12 tile (Lyon)
MINX, MINY, MAXX, MAXY = EXT
W = MAXX - MINX
H = MAXY - MINY
SPAN = m.tile_span(16)
HALF = m.HALF_SIZE

PX_MOD, PX_MUL = 1000003, 2654435761
PY_MOD, PY_MUL = 999983, 1597334677
BX_MOD, BX_MUL = 1000033, 2246822519
BY_MOD, BY_MUL = 999979, 3266489917


def point_x_expr(id_col: str) -> F.Column:
    """Deterministic in-extent x coordinate from an integer id — THE single
    Python source of the point-synthesis formula (SQL twin: point_x_sql);
    every query deriving points from an id MUST use this pair so the Spark
    and oracle expression trees stay bit-identical."""
    return F.lit(MINX) + (
        (F.col(id_col) * F.lit(PX_MUL)) % F.lit(PX_MOD)
    ).cast("double") / F.lit(float(PX_MOD)) * F.lit(W)


def point_y_expr(id_col: str) -> F.Column:
    return F.lit(MINY) + (
        (F.col(id_col) * F.lit(PY_MUL)) % F.lit(PY_MOD)
    ).cast("double") / F.lit(float(PY_MOD)) * F.lit(H)


def point_x_sql(id_expr: str) -> str:
    return (
        f"{MINX!r} + CAST(({id_expr} * {PX_MUL}) % {PX_MOD} AS DOUBLE)"
        f" / {float(PX_MOD)!r} * {W!r}"
    )


def point_y_sql(id_expr: str) -> str:
    return (
        f"{MINY!r} + CAST(({id_expr} * {PY_MUL}) % {PY_MOD} AS DOUBLE)"
        f" / {float(PY_MOD)!r} * {H!r}"
    )


def doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        point_x_expr("doc_id").alias("x"),
        point_y_expr("doc_id").alias("y"),
    )


DOC_POINTS_SQL = f"""
SELECT doc_id,
       {point_x_sql("doc_id")} AS x,
       {point_y_sql("doc_id")} AS y
FROM documents
"""


_ZW = W / 5.0
_ZH = H / 5.0


def nation_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5x5 admin-zone grid over the fixture extent, keyed by nation —
    the ONE definition both the Spark queries and (via ZONES_SQL) the
    DuckDB oracles use; the two must stay bit-identical for oracle parity."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return nation.select(
        F.col("n_nationkey").alias("zone_id"),
        (F.lit(MINX) + (F.col("n_nationkey") % 5).cast("double") * F.lit(_ZW)).alias("zx0"),
        (F.lit(MINY) + F.expr("n_nationkey div 5").cast("double") * F.lit(_ZH)).alias("zy0"),
        (F.lit(MINX) + ((F.col("n_nationkey") % 5) + 1).cast("double") * F.lit(_ZW)).alias("zx1"),
        (F.lit(MINY) + (F.expr("n_nationkey div 5") + 1).cast("double") * F.lit(_ZH)).alias("zy1"),
    )


ZONES_SQL = f"""
SELECT n_nationkey AS zone_id,
       {MINX!r} + CAST(n_nationkey % 5 AS DOUBLE) * {_ZW!r} AS zx0,
       {MINY!r} + CAST(n_nationkey // 5 AS DOUBLE) * {_ZH!r} AS zy0,
       {MINX!r} + CAST((n_nationkey % 5) + 1 AS DOUBLE) * {_ZW!r} AS zx1,
       {MINY!r} + CAST((n_nationkey // 5) + 1 AS DOUBLE) * {_ZH!r} AS zy1
FROM nation
"""


def rect_buildings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → axis-aligned rectangle footprints inside the fixture extent, with the
    nested-ring geometry the real operators consume."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    bx = F.lit(MINX + 0.02 * W) + (
        (F.col("p_partkey") * F.lit(BX_MUL)) % F.lit(BX_MOD)
    ).cast("double") / F.lit(float(BX_MOD)) * F.lit(0.96 * W)
    by = F.lit(MINY + 0.02 * H) + (
        (F.col("p_partkey") * F.lit(BY_MUL)) % F.lit(BY_MOD)
    ).cast("double") / F.lit(float(BY_MOD)) * F.lit(0.96 * H)
    hw = (F.lit(20) + (F.col("p_partkey") % F.lit(37))).cast("double")
    hh = (F.lit(15) + (F.col("p_partkey") % F.lit(23))).cast("double")
    df = part.select(
        F.col("p_partkey").alias("osm_id"),
        bx.alias("bx"),
        by.alias("by"),
        (bx - hw).alias("x0"),
        (by - hh).alias("y0"),
        (bx + hw).alias("x1"),
        (by + hh).alias("y1"),
    )
    ring = F.array(
        F.array("x0", "y0"),
        F.array("x1", "y0"),
        F.array("x1", "y1"),
        F.array("x0", "y1"),
        F.array("x0", "y0"),
    )
    return df.withColumn("geometry", F.array(ring)).withColumn(
        "ring_types", F.array(F.lit("outer"))
    )


RECTS_SQL = f"""
SELECT p_partkey AS osm_id,
       {MINX + 0.02 * W!r} + CAST((p_partkey * {BX_MUL}) % {BX_MOD} AS DOUBLE) / {float(BX_MOD)!r} * {0.96 * W!r} AS bx,
       {MINY + 0.02 * H!r} + CAST((p_partkey * {BY_MUL}) % {BY_MOD} AS DOUBLE) / {float(BY_MOD)!r} * {0.96 * H!r} AS by,
       CAST(20 + (p_partkey % 37) AS DOUBLE) AS hw,
       CAST(15 + (p_partkey % 23) AS DOUBLE) AS hh
FROM part
"""

RECTS_XY_SQL = f"""
WITH r0 AS ({RECTS_SQL})
SELECT osm_id, bx, by, bx - hw AS x0, by - hh AS y0, bx + hw AS x1, by + hh AS y1 FROM r0
"""


# synthesized building properties for the height kernel (modular null patterns)
def synth_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    nullif_mod = lambda expr, mod, r: F.when((k % mod) == r, F.lit(None)).otherwise(expr)
    return part.select(
        k.alias("osm_id"),
        F.when(k % 7 == 0, F.lit("roof"))
        .when(k % 7 == 1, F.lit("garage"))
        .when(k % 7 == 2, F.lit("shed"))
        .otherwise(F.lit("house"))
        .alias("building_type"),
        nullif_mod((4 + (k % 40)).cast("double"), 2, 0).alias("height"),
        nullif_mod((1 + (k % 9)).cast("double"), 3, 0).alias("levels"),
        nullif_mod(((k % 4)).cast("double"), 5, 0).alias("min_height"),
        nullif_mod(((k % 2)).cast("double"), 5, 1).alias("min_level"),
        nullif_mod(((k % 5) - 1).cast("double"), 3, 1).alias("roof_levels"),
        nullif_mod(((k % 6)).cast("double") / F.lit(2.0), 4, 0).alias("roof_height"),
    )


SYNTH_PROPS_SQL = """
SELECT p_partkey AS osm_id,
       CASE WHEN p_partkey % 7 = 0 THEN 'roof'
            WHEN p_partkey % 7 = 1 THEN 'garage'
            WHEN p_partkey % 7 = 2 THEN 'shed'
            ELSE 'house' END AS building_type,
       CASE WHEN p_partkey % 2 = 0 THEN NULL ELSE CAST(4 + (p_partkey % 40) AS DOUBLE) END AS height,
       CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE CAST(1 + (p_partkey % 9) AS DOUBLE) END AS levels,
       CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE CAST(p_partkey % 4 AS DOUBLE) END AS min_height,
       CASE WHEN p_partkey % 5 = 1 THEN NULL ELSE CAST(p_partkey % 2 AS DOUBLE) END AS min_level,
       CASE WHEN p_partkey % 3 = 1 THEN NULL ELSE CAST((p_partkey % 5) - 1 AS DOUBLE) END AS roof_levels,
       CASE WHEN p_partkey % 4 = 0 THEN NULL ELSE CAST(p_partkey % 6 AS DOUBLE) / 2.0 END AS roof_height
FROM part
"""


# ---------------------------------------------------------------------------
# the catalog
# ---------------------------------------------------------------------------


def build_queries() -> dict:
    q: dict = {}

    # ---- scans / filters -----------------------------------------------------
    def layer_filter(spark, sf_dir):
        part = spark.read.parquet(f"{sf_dir}/part.parquet")
        layer = F.when(F.col("p_partkey") % 20 == 0, F.lit("roads")).otherwise(F.lit("buildings"))
        return (
            part.withColumn("layer", layer)
            .filter(F.col("layer") == "buildings")
            .select(F.col("p_partkey").alias("osm_id"), "layer")
        )

    q["layer_filter"] = (
        layer_filter,
        """
        SELECT p_partkey AS osm_id,
               CASE WHEN p_partkey % 20 = 0 THEN 'roads' ELSE 'buildings' END AS layer
        FROM part
        WHERE (CASE WHEN p_partkey % 20 = 0 THEN 'roads' ELSE 'buildings' END) = 'buildings'
        """,
    )

    # ---- cell encode (native mercator tile math) ------------------------------
    def tile_assign_docs(spark, sf_dir):
        pts = doc_points(spark, sf_dir)
        return pts.select(
            "doc_id",
            m.tile_x_col(F.col("x")).alias("tile_x"),
            m.tile_y_col(F.col("y")).alias("tile_y"),
            m.tile_key_col(m.tile_x_col(F.col("x")), m.tile_y_col(F.col("y"))).alias("tile_key"),
        )

    q["tile_assign_docs"] = (
        tile_assign_docs,
        f"""
        WITH pts AS ({DOC_POINTS_SQL})
        SELECT doc_id,
               CAST(FLOOR((x + {HALF!r}) / {SPAN!r}) AS BIGINT) AS tile_x,
               CAST(FLOOR(({HALF!r} - y) / {SPAN!r}) AS BIGINT) AS tile_y,
               '16_' || CAST(CAST(FLOOR((x + {HALF!r}) / {SPAN!r}) AS BIGINT) AS VARCHAR)
                     || '_' || CAST(CAST(FLOOR(({HALF!r} - y) / {SPAN!r}) AS BIGINT) AS VARCHAR) AS tile_key
        FROM pts
        """,
    )

    # ---- hex (H3-style) cell encode ------------------------------------------
    def hex_counts_q(spark, sf_dir):
        """Hexagonal cell binning (functions/hexgrid.py): docs assigned to
        pointy-top hexes of circumradius 75 m via one Arrow stage (packed
        axial id), unpacked to (q, r) with JVM bit math, then a
        map-side-combinable count. The oracle re-states the cube-rounding
        in a DuckDB CTE chain with the identical IEEE evaluation order."""
        from ..functions.hexgrid import _BIAS, _MASK, _SHIFT, hex_id_col

        pts = doc_points(spark, sf_dir)
        return (
            pts.select(hex_id_col(F.col("x"), F.col("y"), 75.0).alias("hid"))
            .select(
                (F.shiftright(F.col("hid"), _SHIFT) - F.lit(_BIAS)).alias("hex_q"),
                (F.col("hid").bitwiseAND(F.lit(_MASK)) - F.lit(_BIAS)).alias("hex_r"),
            )
            .groupBy("hex_q", "hex_r")
            .agg(F.count("*").alias("n_docs"))
        )

    from ..functions.hexgrid import hex_cells_sql

    q["hex_cell_counts"] = (
        hex_counts_q,
        f"""
        SELECT hex_q, hex_r, COUNT(*) AS n_docs
        FROM ({hex_cells_sql(DOC_POINTS_SQL, 75.0)})
        GROUP BY hex_q, hex_r
        """,
    )

    # ---- flagship: cell-prefiltered ray-cast PIP join -------------------------
    def pip_join(spark, sf_dir):
        pts = doc_points(spark, sf_dir).withColumnRenamed("doc_id", "url")
        rects = rect_buildings(spark, sf_dir)
        out = spatial_join(pts, rects)
        return out.select(F.col("url").alias("doc_id"), "osm_id")

    q["pip_join_docs_rects"] = (
        pip_join,
        f"""
        WITH pts AS ({DOC_POINTS_SQL}), r AS ({RECTS_XY_SQL})
        SELECT pts.doc_id, r.osm_id
        FROM pts, r
        WHERE pts.x > r.x0 AND pts.x < r.x1 AND pts.y > r.y0 AND pts.y < r.y1
        """,
    )

    # ---- covered cells + first-claimer ownership ------------------------------
    def tile_ownership(spark, sf_dir):
        rects = rect_buildings(spark, sf_dir)
        return owner_tiles(building_cells(rects)).select("osm_id", "tile_x", "tile_y", "tile_key")

    q["tile_ownership"] = (
        tile_ownership,
        f"""
        WITH r AS ({RECTS_XY_SQL}),
        cand AS (
            SELECT r.osm_id, gx.x AS tile_x, gy.y AS tile_y
            FROM r,
            LATERAL (SELECT unnest(generate_series(
                CAST(FLOOR((r.x0 + {HALF!r}) / {SPAN!r}) AS BIGINT),
                CAST(FLOOR((r.x1 + {HALF!r}) / {SPAN!r}) AS BIGINT))) ) gx(x),
            LATERAL (SELECT unnest(generate_series(
                CAST(FLOOR(({HALF!r} - r.y1) / {SPAN!r}) AS BIGINT),
                CAST(FLOOR(({HALF!r} - r.y0) / {SPAN!r}) AS BIGINT))) ) gy(y)
        ),
        ranked AS (
            SELECT osm_id, tile_x, tile_y,
                   row_number() OVER (PARTITION BY osm_id
                       ORDER BY tile_x // 16, tile_y // 16, tile_x, tile_y) AS rn
            FROM cand
        )
        SELECT osm_id, tile_x, tile_y,
               '16_' || CAST(tile_x AS VARCHAR) || '_' || CAST(tile_y AS VARCHAR) AS tile_key
        FROM ranked WHERE rn = 1
        """,
    )

    # ---- tile-pyramid rollup --------------------------------------------------
    def pyramid_q(spark, sf_dir):
        """Multi-resolution tile aggregates z16→z10 from one raw scan: leaf
        groupBy once, coarser levels roll up the persisted leaf aggregate via
        bit-shift parent keys. Integral measure (doc_id) so sums are exact
        across engines."""
        from ..operators.pyramid import pyramid_rollup

        pts = doc_points(spark, sf_dir)
        cells = pts.select(
            "doc_id",
            m.tile_x_col(F.col("x")).alias("tile_x"),
            m.tile_y_col(F.col("y")).alias("tile_y"),
        )
        out = pyramid_rollup(cells, z_leaf=16, z_min=10, measure_col="doc_id")
        return out.select(
            "z",
            "tile_x",
            "tile_y",
            F.col("n").cast("long").alias("n"),
            F.col("m_sum").cast("long").alias("m_sum"),
            F.col("m_min").cast("long").alias("m_min"),
            F.col("m_max").cast("long").alias("m_max"),
        )

    _pyr_levels = "\nUNION ALL\n".join(
        f"SELECT CAST({z} AS INTEGER) AS z, tx >> {16 - z} AS tile_x, ty >> {16 - z} AS tile_y,"
        f" CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS m_sum,"
        f" CAST(MIN(doc_id) AS BIGINT) AS m_min, CAST(MAX(doc_id) AS BIGINT) AS m_max"
        f" FROM base GROUP BY 2, 3"
        for z in range(16, 9, -1)
    )
    q["tile_pyramid_counts"] = (
        pyramid_q,
        f"""
        WITH pts AS ({DOC_POINTS_SQL}),
        base AS (
            SELECT doc_id,
                   CAST(FLOOR((x + {HALF!r}) / {SPAN!r}) AS BIGINT) AS tx,
                   CAST(FLOOR(({HALF!r} - y) / {SPAN!r}) AS BIGINT) AS ty
            FROM pts
        )
        {_pyr_levels}
        """,
    )

    # ---- per-tile batch-table pivot -------------------------------------------
    def batch_pivot(spark, sf_dir):
        pts = doc_points(spark, sf_dir).withColumnRenamed("doc_id", "url")
        rects = rect_buildings(spark, sf_dir)
        joined = spatial_join(pts, rects)
        owners = owner_tiles(building_cells(rects)).select("osm_id", "tile_key")
        return (
            joined.join(owners, "osm_id")
            .groupBy("tile_key")
            .agg(
                F.count("*").alias("batch_length"),
                # serialized (not a raw array column) so the driver's pandas
                # canonicalizer can sort/hash the output deterministically
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.col("url").cast("long"))),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("doc_ids"),
            )
        )

    q["batch_table_pivot"] = (
        batch_pivot,
        f"""
        WITH pts AS ({DOC_POINTS_SQL}), r AS ({RECTS_XY_SQL}),
        joined AS (
            SELECT pts.doc_id, r.osm_id
            FROM pts, r
            WHERE pts.x > r.x0 AND pts.x < r.x1 AND pts.y > r.y0 AND pts.y < r.y1
        ),
        cand AS (
            SELECT r.osm_id, gx.x AS tile_x, gy.y AS tile_y
            FROM r,
            LATERAL (SELECT unnest(generate_series(
                CAST(FLOOR((r.x0 + {HALF!r}) / {SPAN!r}) AS BIGINT),
                CAST(FLOOR((r.x1 + {HALF!r}) / {SPAN!r}) AS BIGINT))) ) gx(x),
            LATERAL (SELECT unnest(generate_series(
                CAST(FLOOR(({HALF!r} - r.y1) / {SPAN!r}) AS BIGINT),
                CAST(FLOOR(({HALF!r} - r.y0) / {SPAN!r}) AS BIGINT))) ) gy(y)
        ),
        owners AS (
            SELECT osm_id,
                   '16_' || CAST(tile_x AS VARCHAR) || '_' || CAST(tile_y AS VARCHAR) AS tile_key
            FROM (SELECT osm_id, tile_x, tile_y,
                         row_number() OVER (PARTITION BY osm_id
                             ORDER BY tile_x // 16, tile_y // 16, tile_x, tile_y) AS rn
                  FROM cand) WHERE rn = 1
        )
        SELECT o.tile_key,
               COUNT(*) AS batch_length,
               array_to_string(list(j.doc_id ORDER BY j.doc_id), ',') AS doc_ids
        FROM joined j JOIN owners o ON j.osm_id = o.osm_id
        GROUP BY o.tile_key
        """,
    )

    # ---- bbox union (Box3.union analogue) --------------------------------------
    def bbox_union(spark, sf_dir):
        pts = tile_assign_docs(spark, sf_dir).join(doc_points(spark, sf_dir), "doc_id")
        return pts.groupBy("tile_key").agg(
            F.count("*").alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )

    q["bbox_union_per_tile"] = (
        bbox_union,
        f"""
        WITH pts AS ({DOC_POINTS_SQL})
        SELECT '16_' || CAST(CAST(FLOOR((x + {HALF!r}) / {SPAN!r}) AS BIGINT) AS VARCHAR)
                     || '_' || CAST(CAST(FLOOR(({HALF!r} - y) / {SPAN!r}) AS BIGINT) AS VARCHAR) AS tile_key,
               COUNT(*) AS n,
               MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
        FROM pts GROUP BY 1
        """,
    )

    # ---- kNN (real k-ring operator) --------------------------------------------
    def knn(spark, sf_dir):
        pts = doc_points(spark, sf_dir).filter(F.col("doc_id") < 20)
        queries = pts.select(
            F.col("doc_id").alias("query_id"), "x", "y", F.lit(5).alias("k")
        )
        cents = rect_buildings(spark, sf_dir).select(
            "osm_id", F.col("bx").alias("cx"), F.col("by").alias("cy")
        )
        return knn_kring(queries, cents).select("query_id", "rank", "osm_id")

    q["knn_topk"] = (
        knn,
        f"""
        WITH pts AS ({DOC_POINTS_SQL}), r AS ({RECTS_SQL}),
        scored AS (
            SELECT pts.doc_id AS query_id, r.osm_id,
                   (r.bx - pts.x) * (r.bx - pts.x) + (r.by - pts.y) * (r.by - pts.y) AS dist2
            FROM pts, r WHERE pts.doc_id < 20
        ),
        ranked AS (
            SELECT query_id, osm_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY dist2, osm_id) AS rank
            FROM scored
        )
        SELECT query_id, rank, osm_id FROM ranked WHERE rank <= 5
        """,
    )

    def knn_hex(spark, sf_dir):
        """North-rule literal: kNN by HEX k-ring expansion with exact
        distance refinement (operators/knn.py::knn_hex_kring on the
        functions/hexgrid.py lattice). Exact result — same brute-force SQL
        oracle as the square-grid variant."""
        from ..operators.knn import knn_hex_kring

        pts = doc_points(spark, sf_dir).filter(F.col("doc_id") < 20)
        queries = pts.select(
            F.col("doc_id").alias("query_id"), "x", "y", F.lit(5).alias("k")
        )
        cents = rect_buildings(spark, sf_dir).select(
            "osm_id", F.col("bx").alias("cx"), F.col("by").alias("cy")
        )
        return knn_hex_kring(queries, cents).select("query_id", "rank", "osm_id")

    q["knn_hex_topk"] = (
        knn_hex,
        f"""
        WITH pts AS ({DOC_POINTS_SQL}), r AS ({RECTS_SQL}),
        scored AS (
            SELECT pts.doc_id AS query_id, r.osm_id,
                   (r.bx - pts.x) * (r.bx - pts.x) + (r.by - pts.y) * (r.by - pts.y) AS dist2
            FROM pts, r WHERE pts.doc_id < 20
        ),
        ranked AS (
            SELECT query_id, osm_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY dist2, osm_id) AS rank
            FROM scored
        )
        SELECT query_id, rank, osm_id FROM ranked WHERE rank <= 5
        """,
    )

    # ---- polygon overlay area join ---------------------------------------------
    def overlay_q(spark, sf_dir):
        """Overlay area join (operators/zonal.py::overlay_area_join):
        rect footprints × a 5×5 admin-zone grid (from nation), exact
        intersection areas in cents, zones broadcast."""
        zones = nation_zones(spark, sf_dir)
        rects = rect_buildings(spark, sf_dir).select("osm_id", "x0", "y0", "x1", "y1")
        return overlay_area_join(rects, zones)

    q["overlay_zones"] = (
        overlay_q,
        f"""
        WITH z AS ({ZONES_SQL}),
        r AS ({RECTS_XY_SQL})
        SELECT r.osm_id, z.zone_id,
               CAST(FLOOR((LEAST(x1, zx1) - GREATEST(x0, zx0))
                          * (LEAST(y1, zy1) - GREATEST(y0, zy0)) * 100 + 0.5) AS BIGINT)
                   AS overlap_area_c
        FROM r JOIN z
          ON r.x0 < z.zx1 AND r.x1 > z.zx0 AND r.y0 < z.zy1 AND r.y1 > z.zy0
        """,
    )

    # ---- clipped road length per zone (Liang–Barsky in shared SQL) --------------
    def road_len_q(spark, sf_dir):
        """Per-zone clipped segment length (operators/zonal.py::
        segment_zone_length): deterministic ±100 m 'road' segments anchored
        at the doc points × the 5×5 nation zone grid; Liang–Barsky clip as
        shared-verbatim SQL fragments, zones broadcast."""
        from ..operators.zonal import segment_zone_length

        zones = nation_zones(spark, sf_dir)
        segs = doc_points(spark, sf_dir).select(
            F.col("doc_id").alias("seg_id"),
            F.col("x").alias("x0"),
            F.col("y").alias("y0"),
            (F.col("x") + F.expr(
                "cast((doc_id * 7919 + 3) % 4001 - 2000 as double) / 20e0"
            )).alias("x1"),
            (F.col("y") + F.expr(
                "cast((doc_id * 104729 + 5) % 4001 - 2000 as double) / 20e0"
            )).alias("y1"),
        )
        return segment_zone_length(segs, zones)

    from ..operators.zonal import SEG_LEN_C_SQL, SEG_T0_SQL, SEG_T1_SQL

    q["road_zone_length"] = (
        road_len_q,
        f"""
        WITH z AS ({ZONES_SQL}),
        p AS ({DOC_POINTS_SQL}),
        s0 AS (
            SELECT doc_id AS seg_id, x AS x0, y AS y0,
                   x + CAST((doc_id * 7919 + 3) % 4001 - 2000 AS DOUBLE) / 20e0 AS x1,
                   y + CAST((doc_id * 104729 + 5) % 4001 - 2000 AS DOUBLE) / 20e0 AS y1
            FROM p
        ),
        -- bbox columns precomputed: LEAST/GREATEST inside the join predicate
        -- trips an INTERNAL vector error in DuckDB 1.0's range-join path
        s AS (
            SELECT *, LEAST(x0, x1) AS bxlo, GREATEST(x0, x1) AS bxhi,
                   LEAST(y0, y1) AS bylo, GREATEST(y0, y1) AS byhi
            FROM s0
        ),
        clipped AS (
            SELECT zone_id, {SEG_T0_SQL} AS t0, {SEG_T1_SQL} AS t1,
                   x0, y0, x1, y1
            FROM s JOIN z
              ON bxlo <= zx1 AND bxhi >= zx0
             AND bylo <= zy1 AND byhi >= zy0
        ),
        lens AS (
            SELECT zone_id, {SEG_LEN_C_SQL} AS len_c
            FROM clipped
            WHERE t1 > t0
        )
        SELECT zone_id, COUNT(*) AS n_segments,
               CAST(SUM(len_c) AS BIGINT) AS length_sum_c
        FROM lens
        GROUP BY zone_id
        """,
    )

    # ---- zonal stats (rasterize → join → agg) -----------------------------------
    def zonal(spark, sf_dir):
        rects = rect_buildings(spark, sf_dir)
        min_tx, min_ty, max_tx, max_ty = m.tile_range_for_extent(EXT, 16)
        # raster over a generous halo of the fixture grid (rect edges near the
        # extent boundary may rasterize one cell outside)
        grid = (
            spark.range(min_tx - 2, max_tx + 3)
            .select(F.col("id").alias("cell_x"))
            .crossJoin(spark.range(min_ty - 2, max_ty + 3).select(F.col("id").alias("cell_y")))
            .withColumn(
                "value", ((F.col("cell_x") * 31 + F.col("cell_y") * 17) % 1000).cast("double")
            )
        )
        return zonal_stats(rects, grid).select("osm_id", "cell_count", "value_sum")

    min_tx, min_ty, max_tx, max_ty = m.tile_range_for_extent(EXT, 16)
    q["zonal_stats_rects"] = (
        zonal,
        f"""
        WITH r AS ({RECTS_XY_SQL}),
        cand AS (
            SELECT r.osm_id, gx.x AS tile_x, gy.y AS tile_y
            FROM r,
            LATERAL (SELECT unnest(generate_series(
                CAST(FLOOR((r.x0 + {HALF!r}) / {SPAN!r}) AS BIGINT),
                CAST(FLOOR((r.x1 + {HALF!r}) / {SPAN!r}) AS BIGINT))) ) gx(x),
            LATERAL (SELECT unnest(generate_series(
                CAST(FLOOR(({HALF!r} - r.y1) / {SPAN!r}) AS BIGINT),
                CAST(FLOOR(({HALF!r} - r.y0) / {SPAN!r}) AS BIGINT))) ) gy(y)
        )
        SELECT osm_id, COUNT(*) AS cell_count,
               SUM(CAST((tile_x * 31 + tile_y * 17) % 1000 AS DOUBLE)) AS value_sum
        FROM cand
        WHERE tile_x BETWEEN {min_tx - 2} AND {max_tx + 2}
          AND tile_y BETWEEN {min_ty - 2} AND {max_ty + 2}
        GROUP BY osm_id
        """,
    )

    # ---- interior point (boxCenter kernel, 3857 frame) --------------------------
    def box_center(spark, sf_dir):
        from collections.abc import Iterator

        import numpy as np
        import pandas as pd

        from ..functions import geometry as g

        rects = rect_buildings(spark, sf_dir)
        schema = T.StructType(
            [
                T.StructField("osm_id", T.LongType()),
                T.StructField("mid_x", T.DoubleType()),
                T.StructField("mid_y", T.DoubleType()),
            ]
        )

        def _mid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids, mx, my = [], [], []
                for osm_id, rings_raw in zip(pdf["osm_id"], pdf["geometry"]):
                    rings = [
                        np.asarray([[float(p[0]), float(p[1])] for p in ring])
                        for ring in rings_raw
                    ]
                    x, y = g.interior_point(rings)
                    ids.append(osm_id)
                    mx.append(x)
                    my.append(y)
                yield pd.DataFrame({"osm_id": ids, "mid_x": mx, "mid_y": my})

        return rects.select("osm_id", "geometry").mapInPandas(_mid, schema=schema)

    q["interior_point_rects"] = (
        box_center,
        f"""
        WITH r AS ({RECTS_XY_SQL})
        SELECT osm_id, (x0 + x1) / 2 AS mid_x, (y0 + y1) / 2 AS mid_y FROM r
        """,
    )

    # ---- height kernel ----------------------------------------------------------
    def height_params(spark, sf_dir):
        props = synth_props(spark, sf_dir)
        return with_building_params(props).select(
            "osm_id",
            "building_levels",
            "building_height",
            "building_min_height",
            "building_roof_height",
        )

    q["height_params"] = (
        height_params,
        HEIGHT_KERNEL_SQL.format(source=SYNTH_PROPS_SQL, id_col="osm_id"),
    )

    # ---- windows denylist + osm_url ---------------------------------------------
    def windows_flag(spark, sf_dir):
        props = synth_props(spark, sf_dir)
        return with_building_params(props).select("osm_id", "building_windows")

    q["windows_denylist"] = (
        windows_flag,
        HEIGHT_KERNEL_SQL.format(source=SYNTH_PROPS_SQL, id_col="osm_id").replace(
            """SELECT osm_id,
       lvls - min_lvl AS building_levels,
       hgt AS building_height,
       CASE WHEN building_type = 'roof' THEN hgt - roof_h ELSE min_h END AS building_min_height,
       roof_h AS building_roof_height
FROM mh""",
            """SELECT osm_id,
       CASE WHEN hgt - min_h - roof_h < 2.0 THEN FALSE
            ELSE building_type NOT IN ('garage','garages','greenhouse','storage_tank',
                 'bunker','silo','stadium','ship','castle','service','digester',
                 'water_tower','shed','ger','barn','slurry_tank','container','carport')
       END AS building_windows
FROM mh""",
        ),
    )

    def osm_url(spark, sf_dir):
        from ..functions.params import osm_url_col

        part = spark.read.parquet(f"{sf_dir}/part.parquet")
        osm_type = (
            F.when(F.col("p_partkey") % 3 == 0, F.lit("node"))
            .when(F.col("p_partkey") % 3 == 1, F.lit("way"))
            .otherwise(F.lit("relation"))
        )
        return part.select(
            F.col("p_partkey").alias("osm_id"),
            osm_url_col(F.col("p_partkey"), osm_type).alias("osm_url"),
        )

    q["osm_url"] = (
        osm_url,
        """
        SELECT p_partkey AS osm_id,
               'https://www.openstreetmap.org/' ||
               (CASE WHEN p_partkey % 3 = 0 THEN 'node'
                     WHEN p_partkey % 3 = 1 THEN 'way' ELSE 'relation' END) ||
               '/' || CAST(p_partkey AS VARCHAR) AS osm_url
        FROM part
        """,
    )

    q.update(build_relational_queries())
    q.update(build_webtext_queries())
    return q


# ---------------------------------------------------------------------------
# relational spine (TPC-H-ish) — proves groupBy/join/window/sort coverage
# ---------------------------------------------------------------------------


def _scaled(col: str) -> F.Column:
    """Scale doubles to int64 cents before SUM — fp addition order is engine-
    dependent; integer sums are exact."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def build_relational_queries() -> dict:
    q: dict = {}

    def q1(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(_scaled("l_quantity")).alias("sum_qty_c"),
                F.sum(_scaled("l_extendedprice")).alias("sum_price_c"),
                F.count("*").alias("count_order"),
            )
        )

    q["agg_pricing_summary"] = (
        q1,
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
    )

    def q3(spark, sf_dir):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        revenue = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100 + F.lit(0.5)
        ).cast("long")
        joined = (
            cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, cust["c_custkey"] == orders["o_custkey"])
            .join(li, orders["o_orderkey"] == li["l_orderkey"])
        )
        return (
            joined.groupBy("o_orderkey")
            .agg(F.sum(revenue).alias("revenue_c"))
            .orderBy(F.desc("revenue_c"), F.col("o_orderkey"))
            .limit(10)
        )

    q["join_topk_revenue"] = (
        q3,
        """
        SELECT o_orderkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue_c DESC, o_orderkey
        LIMIT 10
        """,
    )

    def top_orders(spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc(_scaled("o_totalprice")), F.col("o_orderkey")
        )
        return (
            orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "rn", "o_orderkey")
        )

    q["window_top_orders_per_customer"] = (
        top_orders,
        """
        SELECT o_custkey, rn, o_orderkey FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                                o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
        """,
    )

    def tumbling(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        return (
            ev.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
            .agg(F.count("*").alias("n"), F.sum(_scaled("value")).alias("value_sum_c"))
            .select(
                F.col("win.start").cast("long").alias("window_start_epoch"),
                "event_type",
                "n",
                "value_sum_c",
            )
        )

    q["events_tumbling_counts"] = (
        tumbling,
        """
        SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start_epoch,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_sum_c
        FROM events GROUP BY 1, 2
        """,
    )

    def asof_q(spark, sf_dir):
        """As-of join: every event picks the latest rate snapshot (every 20th
        event, deduped per (user, ts)) at or before its timestamp. Oracle =
        DuckDB's NATIVE `ASOF LEFT JOIN` — an independent engine stating the
        same temporal-join semantics as operators/asof.py's union+window
        formulation. Money scaled to cents; -1 sentinel for no-snapshot
        (NULL doubles would NaN-break the hash compare)."""
        from ..operators.asof import asof_join

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        snaps = (
            ev.filter(F.col("event_id") % 20 == 0)
            .groupBy("user_id", "ts")
            .agg(F.max(_scaled("value")).alias("rate_c"))
        )
        out = asof_join(
            ev.select("event_id", "user_id", "ts"),
            snaps,
            key="user_id",
            value_cols=("rate_c",),
        )
        return out.select(
            "event_id",
            "user_id",
            F.col("ts").cast("long").alias("ts_epoch"),
            F.coalesce(F.col("asof_rate_c"), F.lit(-1)).cast("long").alias("rate_c"),
        )

    q["asof_rate_join"] = (
        asof_q,
        """
        WITH snaps AS (
          SELECT user_id, ts, MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS rate_c
          FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id,
               CAST(FLOOR(epoch(e.ts)) AS BIGINT) AS ts_epoch,
               CAST(COALESCE(s.rate_c, -1) AS BIGINT) AS rate_c
        FROM events e ASOF LEFT JOIN snaps s
          ON e.user_id = s.user_id AND e.ts >= s.ts
        """,
    )

    def enriched(spark, sf_dir):
        """Stream-static enrichment join (events × customer dim, rolled up by
        nation) — streaming/events.enriched_tumbling_counts run batch-mode;
        streaming parity rides tests/test_streaming.py."""
        from ..streaming.events import enriched_tumbling_counts

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        out = enriched_tumbling_counts(ev, cust, value_expr=_scaled("value"))
        return out.select(
            F.col("window_start").cast("long").alias("window_start_epoch"),
            F.col("dim_attr").cast("long").alias("nation"),
            "n",
            F.col("value_sum").cast("long").alias("value_sum_c"),
        )

    q["events_enriched_counts"] = (
        enriched,
        """
        SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', e.ts)) AS BIGINT) AS window_start_epoch,
               CAST(c.c_nationkey AS BIGINT) AS nation, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_sum_c
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
        """,
    )

    def sliding(spark, sf_dir):
        # sliding (hopping) windows: window 10m, hop 5m → every event lands
        # in exactly 2 windows
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        return (
            ev.groupBy(
                F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.sum(_scaled("value")).alias("value_sum_c"))
            .select(
                F.col("win.start").cast("long").alias("window_start_epoch"),
                "event_type",
                "n",
                "value_sum_c",
            )
        )

    q["events_sliding_counts"] = (
        sliding,
        """
        WITH b AS (
            SELECT time_bucket(INTERVAL '5 minutes', ts) AS b5, event_type,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
            FROM events
        ),
        w AS (
            SELECT b5 AS ws, event_type, v FROM b
            UNION ALL
            SELECT b5 - INTERVAL '5 minutes' AS ws, event_type, v FROM b
        )
        SELECT CAST(epoch(ws) AS BIGINT) AS window_start_epoch, event_type,
               COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS value_sum_c
        FROM w GROUP BY 1, 2
        """,
    )

    def dedup_watermark(spark, sf_dir):
        """Batch-equivalent of streaming/events.dedup_within_watermark: events
        unioned with a redelivered copy of every 10th event (+3 min — inside
        the horizon) must dedup back to exactly one row per event_id, keeping
        the earliest."""
        from ..streaming.events import dedup_within_watermark

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type"
        )
        redelivered = ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 3 MINUTES")
        )
        out = dedup_within_watermark(ev.unionByName(redelivered))
        return out.select(
            "event_id",
            F.col("ts").cast("long").alias("ts_epoch"),
            "user_id",
            "event_type",
        )

    q["events_dedup_watermark"] = (
        dedup_watermark,
        """
        WITH allv AS (
            SELECT event_id, ts, user_id, event_type FROM events
            UNION ALL
            SELECT event_id, ts + INTERVAL 3 MINUTE AS ts, user_id, event_type
            FROM events WHERE event_id % 10 = 0
        ),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY event_id
                                         ORDER BY ts, user_id, event_type) AS rn
            FROM allv
        )
        SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch, user_id, event_type
        FROM r WHERE rn = 1
        """,
    )

    def sessionized(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.when(
            (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)) > 1800, 1
        ).otherwise(0)
        marked = ev.withColumn("new_sess", F.coalesce(gap, F.lit(0)))
        sess = marked.withColumn("session_id", F.sum("new_sess").over(w))
        return sess.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events"),
            F.min(F.col("ts").cast("long")).alias("session_start_epoch"),
        )

    q["events_sessionize"] = (
        sessionized,
        """
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) -
                             lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   CAST(SUM(COALESCE(new_sess, 0)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
            FROM marked
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS session_start_epoch
        FROM sess GROUP BY user_id, session_id
        """,
    )

    def pricing_rollup_q(spark, sf_dir):
        """Hierarchical ROLLUP aggregation — the multi-level batch-table
        rollup shape (leaf / per-flag / grand-total in ONE pass over the
        scan via Expand, not three scans). grouping_id disambiguates the
        subtotal NULLs; group values coalesce to 'ALL' so the canonicalizer
        never sees a NULL string."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(
                F.grouping_id().alias("gid"),
                F.count("*").alias("n"),
                F.sum(_scaled("l_extendedprice")).alias("price_c"),
            )
            .select(
                "gid",
                F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
                "n",
                "price_c",
            )
        )

    q["pricing_rollup"] = (
        pricing_rollup_q,
        """
        SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
               COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_c
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
    )

    def kmv_q(spark, sf_dir):
        """KMV bottom-k distinct sketch (operators/sketches.py): estimated
        distinct users per event_type from the 64 smallest 40-bit md5
        hashes. Integer estimator => the approximation itself is
        oracle-checkable bit-for-bit."""
        from ..operators.sketches import kmv_distinct

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return kmv_distinct(ev, key="user_id", group="event_type", k=64)

    from ..operators.sketches import kmv_oracle_sql

    q["distinct_kmv_users"] = (
        kmv_q,
        kmv_oracle_sql("user_id", "event_type", "events"),
    )

    def digest_q(spark, sf_dir):
        """Bucket-digest reconciliation (operators/reconcile.py): 64
        order-independent SUM-of-row-hash digests over lineitem — the
        O(buckets) table-compare primitive."""
        from ..operators.reconcile import table_digest

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return table_digest(li, ["l_orderkey", "l_linenumber", "l_returnflag"])

    from ..operators.reconcile import digest_oracle_sql

    q["table_digest"] = (
        digest_q,
        digest_oracle_sql(
            ["l_orderkey", "l_linenumber", "l_returnflag"], "lineitem"
        ),
    )

    def snapshot_diff_q(spark, sf_dir):
        """CDC snapshot diff (operators/reconcile.py): two synthetic orders
        snapshots (old: keys %10!=0; new: keys %7!=0, price bumped +100
        cents on keys %5==0) classified inserted/deleted/changed by one
        full-outer join."""
        from ..operators.reconcile import snapshot_diff

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        price_c = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
            "o_orderkey", price_c.alias("price_c")
        )
        bump = F.when(F.col("o_orderkey") % 5 == 0, F.lit(100)).otherwise(F.lit(0))
        new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
            "o_orderkey", (price_c + bump).alias("price_c")
        )
        return snapshot_diff(old, new, key="o_orderkey", value="price_c")

    q["snapshot_diff"] = (
        snapshot_diff_q,
        """
        WITH o AS (
            SELECT o_orderkey AS k,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS old_value
            FROM orders WHERE o_orderkey % 10 <> 0
        ),
        n AS (
            SELECT o_orderkey AS k,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS new_value
            FROM orders WHERE o_orderkey % 7 <> 0
        ),
        j AS (
            SELECT COALESCE(o.k, n.k) AS o_orderkey, old_value, new_value
            FROM o FULL OUTER JOIN n ON o.k = n.k
        )
        SELECT o_orderkey,
               CASE WHEN old_value IS NULL THEN 'inserted'
                    WHEN new_value IS NULL THEN 'deleted'
                    WHEN old_value <> new_value THEN 'changed' END AS change_type,
               COALESCE(old_value, -1) AS old_value,
               COALESCE(new_value, -1) AS new_value
        FROM j
        WHERE old_value IS NULL OR new_value IS NULL OR old_value <> new_value
        """,
    )

    def interval_q(spark, sf_dir):
        """Bucketed range join (operators/interval.py): events × 25
        overlapping maintenance windows (from nation, anchored at the
        corpus min timestamp, 1800 s stride / 2700 s length) via
        bucket-explode + hash equi-join instead of a nested-loop join;
        per-window event count + scaled value sum."""
        from ..operators.interval import bucketed_range_join

        ev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .withColumn("ts_epoch", F.col("ts").cast("timestamp").cast("long"))
        )
        base = ev.agg(F.min("ts_epoch")).first()[0]
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        wins = nation.select(
            F.col("n_nationkey").alias("window_id"),
            (F.lit(base) + F.col("n_nationkey") * 1800).alias("start_epoch"),
            (F.lit(base) + F.col("n_nationkey") * 1800 + 2700).alias("end_epoch"),
        )
        joined = bucketed_range_join(
            ev.select("event_id", "ts_epoch", "value"), wins, bucket_s=2700
        )
        return joined.groupBy("window_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("value_sum_c"),
        )

    q["interval_join_counts"] = (
        interval_q,
        """
        WITH base AS (
            SELECT MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS b FROM events
        ),
        wins AS (
            SELECT n_nationkey AS window_id,
                   (SELECT b FROM base) + n_nationkey * 1800 AS start_epoch,
                   (SELECT b FROM base) + n_nationkey * 1800 + 2700 AS end_epoch
            FROM nation
        )
        SELECT window_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_sum_c
        FROM events JOIN wins
          ON CAST(FLOOR(epoch(ts)) AS BIGINT) >= start_epoch
         AND CAST(FLOOR(epoch(ts)) AS BIGINT) < end_epoch
        GROUP BY window_id
        """,
    )

    def tile_window_q(spark, sf_dir):
        """Batch path of streaming/events.py::streaming_tile_counts — the
        flagship geo kernel inside a tumbling event-time rollup: events get
        deterministic mercator coords, tile assignment runs in native
        Column math, counts per (5-min window, tile). The oracle restates
        F.window's epoch-aligned tumbling start as (epoch div 300) * 300."""
        from ..streaming.events import streaming_tile_counts

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.expr("cast(ts as timestamp)").alias("ts"),
            point_x_expr("event_id").alias("x"),
            point_y_expr("event_id").alias("y"),
        )
        out = streaming_tile_counts(ev)
        return out.select(
            F.expr("cast(window_start as long)").alias("window_epoch"),
            "tile_x",
            "tile_y",
            "n_docs",
        )

    q["tile_window_counts"] = (
        tile_window_q,
        f"""
        WITH pts AS (
            SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 300 * 300 AS window_epoch,
                   {point_x_sql("event_id")} AS x,
                   {point_y_sql("event_id")} AS y
            FROM events
        )
        SELECT window_epoch,
               CAST(FLOOR((x + {HALF!r}) / {SPAN!r}) AS BIGINT) AS tile_x,
               CAST(FLOOR(({HALF!r} - y) / {SPAN!r}) AS BIGINT) AS tile_y,
               COUNT(*) AS n_docs
        FROM pts
        GROUP BY 1, 2, 3
        """,
    )

    def unpivot_q(spark, sf_dir):
        """Wide→long unpivot (melt) — the inverse of the batch-table pivot:
        each lineitem's three money/quantity measures (scaled to integer
        cents) become (key, metric, value) rows via the native
        DataFrame.unpivot (Expand node, no shuffle, no UDF). Oracle: the
        equivalent ANSI UNION ALL."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
            "l_orderkey",
            "l_linenumber",
            "cast(floor(l_quantity * 100 + 0.5) as bigint) as quantity_c",
            "cast(floor(l_extendedprice * 100 + 0.5) as bigint) as extendedprice_c",
            "cast(floor(l_discount * 100 + 0.5) as bigint) as discount_c",
        )
        return li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity_c", "extendedprice_c", "discount_c"],
            "metric",
            "value",
        )

    q["lineitem_unpivot"] = (
        unpivot_q,
        """
        SELECT l_orderkey, l_linenumber, 'quantity_c' AS metric,
               CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS value
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice_c',
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount_c',
               CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
        FROM lineitem
        """,
    )

    def funnel_q(spark, sf_dir):
        """Order-respecting 3-step funnel: users who viewed, then clicked
        at-or-after their first view, then purchased at-or-after that
        click. Three conditional-min aggregations chained by broadcast
        joins on the user dimension — each step's table is user-sized, so
        the event scan is the only data-scale input. s1/s2 feed both the
        next step's join AND the final count, so they are persisted
        (registered for unpersist_all); the three counts come from ONE
        tagged union in a single action — the previous three-count()
        shape recomputed the event scan and nested aggregations up to
        three times."""
        from ..operators.dedup import _register_persist

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id",
            "event_type",
            F.expr("cast(cast(ts as timestamp) as long)").alias("tse"),
        )
        s1 = _register_persist(
            ev.filter(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(F.min("tse").alias("t1"))
            .persist()
        )
        s2 = _register_persist(
            ev.filter(F.col("event_type") == "click")
            .join(F.broadcast(s1), "user_id")
            .filter(F.col("tse") >= F.col("t1"))
            .groupBy("user_id")
            .agg(F.min("tse").alias("t2"))
            .persist()
        )
        s3 = (
            ev.filter(F.col("event_type") == "purchase")
            .join(F.broadcast(s2), "user_id")
            .filter(F.col("tse") >= F.col("t2"))
            .groupBy("user_id")
            .agg(F.min("tse").alias("t3"))
        )
        tagged = (
            s1.select(F.lit(1).alias("step"))
            .unionByName(s2.select(F.lit(2).alias("step")))
            .unionByName(s3.select(F.lit(3).alias("step")))
        )
        return tagged.agg(
            F.count(F.when(F.col("step") == 1, 1)).alias("n_viewed"),
            F.count(F.when(F.col("step") == 2, 1)).alias("n_clicked_after"),
            F.count(F.when(F.col("step") == 3, 1)).alias("n_purchased_after"),
        )

    q["funnel_counts"] = (
        funnel_q,
        """
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse
            FROM events
        ),
        s1 AS (
            SELECT user_id, MIN(tse) AS t1 FROM e
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(tse) AS t2
            FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND tse >= t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(tse) AS t3
            FROM e JOIN s2 USING (user_id)
            WHERE event_type = 'purchase' AND tse >= t2
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM s1) AS n_viewed,
               (SELECT COUNT(*) FROM s2) AS n_clicked_after,
               (SELECT COUNT(*) FROM s3) AS n_purchased_after
        """,
    )

    def cdc_apply_q(spark, sf_dir):
        """MERGE-style CDC apply (operators/reconcile.py::apply_changes):
        customer snapshot + a deterministic change feed (delete keys ≡0,
        update keys ≡1 (+1000c), insert shifted keys ≡2 mod 7) → the next
        snapshot. Touched keys broadcast; the target shuffles only for the
        anti-join."""
        from ..operators.reconcile import apply_changes

        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        target = cust.select(
            F.col("c_custkey").alias("id"),
            F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").alias("v"),
        )
        m = F.col("c_custkey") % 7
        changes = (
            cust.filter(m.isin(0, 1, 2))
            .select(
                F.when(m == 0, "D").when(m == 1, "U").otherwise("I").alias("op"),
                F.when(m == 2, F.col("c_custkey") + 1000000)
                .otherwise(F.col("c_custkey"))
                .alias("id"),
                (
                    F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)")
                    + F.when(m == 1, 1000).otherwise(0)
                ).alias("v"),
            )
        )
        return apply_changes(target, changes, "id")

    q["cdc_apply"] = (
        cdc_apply_q,
        """
        WITH target AS (
            SELECT c_custkey AS id,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS v
            FROM customer
        ),
        changes AS (
            SELECT CASE c_custkey % 7 WHEN 0 THEN 'D' WHEN 1 THEN 'U'
                        ELSE 'I' END AS op,
                   CASE WHEN c_custkey % 7 = 2 THEN c_custkey + 1000000
                        ELSE c_custkey END AS id,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                     + CASE WHEN c_custkey % 7 = 1 THEN 1000 ELSE 0 END AS v
            FROM customer WHERE c_custkey % 7 IN (0, 1, 2)
        )
        SELECT id, v FROM target
        WHERE id NOT IN (SELECT id FROM changes)
        UNION ALL
        SELECT id, v FROM changes WHERE op <> 'D'
        """,
    )

    def retention_q(spark, sf_dir):
        """Cohort retention: cohort = each user's first-active day; cell
        (cohort_day, day_offset) counts distinct users active that many
        days after joining. The first-activity table is a user-sized
        dimension -> broadcast; the fact side shuffles once for the final
        distinct-count aggregation."""
        ev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select(
                "user_id",
                F.expr("cast(cast(ts as timestamp) as long) div 86400").alias("day"),
            )
        )
        first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
        return (
            ev.join(F.broadcast(first), "user_id")
            .groupBy(
                "cohort_day",
                (F.col("day") - F.col("cohort_day")).alias("day_offset"),
            )
            .agg(F.countDistinct("user_id").alias("n_users"))
        )

    q["user_retention_days"] = (
        retention_q,
        """
        WITH e AS (
            SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
            FROM events
        ),
        f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
        SELECT cohort_day, e.day - f.cohort_day AS day_offset,
               COUNT(DISTINCT e.user_id) AS n_users
        FROM e JOIN f USING (user_id)
        GROUP BY 1, 2
        """,
    )

    def scd2_q(spark, sf_dir):
        """SCD2 episode build (operators/scd.py): per-user event_type
        history with no-op suppression; one key shuffle, two in-partition
        analytic windows, episodes closed by the next change or the
        open-end sentinel."""
        from ..operators.scd import scd2_from_events

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id",
            "event_type",
            F.expr("cast(cast(ts as timestamp) as long)").alias("ts_epoch"),
            "event_id",
        )
        return scd2_from_events(ev)

    q["user_scd2"] = (
        scd2_q,
        """
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch, event_id
            FROM events
        ),
        marked AS (
            SELECT *, LAG(event_type) OVER w AS prev, ROW_NUMBER() OVER w AS rn
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, event_id)
        ),
        changes AS (
            SELECT user_id, event_type, ts_epoch, event_id FROM marked
            WHERE rn = 1 OR prev IS DISTINCT FROM event_type
        )
        SELECT user_id, event_type,
               ts_epoch AS valid_from,
               COALESCE(LEAD(ts_epoch) OVER w2, 253402300800) AS valid_to,
               CAST(CASE WHEN LEAD(ts_epoch) OVER w2 IS NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS is_current
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_epoch, event_id)
        """,
    )

    def cube_q(spark, sf_dir):
        """Multi-dimensional CUBE rollup: counts + scaled-cent sums for
        every combination of (event_type, day) including both partial and
        grand totals. NULL group markers are coalesced to sentinels ('ALL'
        / -1) and disambiguated by grouping_id — real NULLs vs subtotal
        NULLs — because NULL/NaN in output poisons cross-engine compares."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_type",
            F.expr("cast(cast(ts as timestamp) as long) div 86400").alias("day"),
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("value_c"),
        )
        return (
            ev.cube("event_type", "day")
            .agg(
                F.grouping_id().cast("long").alias("gid"),
                F.count("*").alias("n"),
                F.sum("value_c").alias("value_sum_c"),
            )
            .select(
                F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("day", F.lit(-1)).alias("day"),
                "gid",
                "n",
                "value_sum_c",
            )
        )

    q["events_cube"] = (
        cube_q,
        """
        WITH e AS (
            SELECT event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_c
            FROM events
        )
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(day, -1) AS day,
               CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(value_c) AS BIGINT) AS value_sum_c
        FROM e
        GROUP BY CUBE (event_type, day)
        """,
    )

    def rolling_q(spark, sf_dir):
        """Per-user event-time rolling aggregates via a RANGE window frame
        (value-based, not row-based): for every event, the count and
        scaled-cent sum of that user's events in the trailing hour. RANGE
        frames are tie-order-independent (the frame is defined by the
        epoch VALUE), which is what makes the per-event output exactly
        reproducible cross-engine with no tiebreak column."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id",
            "user_id",
            F.expr("cast(cast(ts as timestamp) as long)").alias("ts_epoch"),
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("value_c"),
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts_epoch")
            .rangeBetween(-3599, Window.currentRow)
        )
        return ev.select(
            "event_id",
            "user_id",
            F.count("*").over(w).alias("n_trailing_hour"),
            F.sum("value_c").over(w).alias("sum_trailing_hour_c"),
        )

    q["rolling_hour_stats"] = (
        rolling_q,
        """
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_c
            FROM events
        )
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_trailing_hour,
               CAST(SUM(value_c) OVER w AS BIGINT) AS sum_trailing_hour_c
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        """,
    )

    def spike_q(spark, sf_dir):
        """Round-4: anomaly detection on event-count series — hourly counts
        per event_type, spike = count exceeds 2x the mean of the previous 3
        OBSERVED hourly buckets (ROWS frame, so gaps don't imply zeros; same
        in both engines). Pure integer test (3*n > 2*prev3_sum) — no float
        mean, hash-stable cross-engine. At 100 TB this is one keyed
        aggregation plus a per-key window over hour-grain rows (tiny)."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_type",
            F.expr(
                "cast(floor(cast(cast(ts as timestamp) as long) / 3600) as bigint)"
            ).alias("hour_bucket"),
        )
        hourly = ev.groupBy("event_type", "hour_bucket").agg(
            F.count("*").alias("n")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("hour_bucket")
            .rowsBetween(-3, -1)
        )
        return hourly.select(
            "event_type",
            "hour_bucket",
            "n",
            F.coalesce(F.sum("n").over(w), F.lit(-1)).alias("prev3_sum"),
            F.coalesce(F.count("n").over(w), F.lit(0)).alias("prev3_cnt"),
        ).withColumn(
            "is_spike",
            (F.col("prev3_cnt") == 3) & (3 * F.col("n") > 2 * F.col("prev3_sum")),
        )

    q["event_spike_hours"] = (
        spike_q,
        """
        WITH hourly AS (
            SELECT event_type,
                   CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)
                       AS hour_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_type, hour_bucket, n,
               CAST(COALESCE(SUM(n) OVER w, -1) AS BIGINT) AS prev3_sum,
               CAST(COALESCE(COUNT(n) OVER w, 0) AS BIGINT) AS prev3_cnt,
               (COUNT(n) OVER w = 3 AND 3 * n > 2 * COALESCE(SUM(n) OVER w, -1))
                   AS is_spike
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
        """,
    )

    def mad_q(spark, sf_dir):
        """Round-4: robust per-language length stats — lower median and
        median absolute deviation of n_chars. Both medians are defined
        EXPLICITLY as the value at row_number (cnt+1) div 2 under a value
        sort (no engine median() — interpolation differs cross-engine);
        everything is integer arithmetic, so the value-hash gate holds."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("lang", "n_chars")

        def lower_median(df, col):
            w = Window.partitionBy("lang").orderBy(col)
            cnt = Window.partitionBy("lang")
            return (
                df.withColumn("rn", F.row_number().over(w))
                .withColumn("cnt", F.count("*").over(cnt))
                .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
                .select("lang", F.col(col).alias("med"))
            )

        med = lower_median(docs, "n_chars")
        dev = docs.join(med, "lang").select(
            "lang", F.abs(F.col("n_chars") - F.col("med")).alias("adev"), "med"
        )
        mad = (
            lower_median(dev.select("lang", "adev"), "adev")
            .withColumnRenamed("med", "mad")
        )
        return med.join(mad, "lang").select("lang", "med", "mad")

    q["doc_length_mad"] = (
        mad_q,
        """
        WITH ranked AS (
            SELECT lang, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS cnt
            FROM documents
        ),
        med AS (
            SELECT lang, CAST(n_chars AS BIGINT) AS med FROM ranked
            WHERE rn = (cnt + 1) // 2
        ),
        devs AS (
            SELECT d.lang, ABS(d.n_chars - m.med) AS adev
            FROM documents d JOIN med m USING (lang)
        ),
        dranked AS (
            SELECT lang, adev,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY adev) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS cnt
            FROM devs
        )
        SELECT m.lang, m.med, CAST(dr.adev AS BIGINT) AS mad
        FROM med m JOIN dranked dr ON m.lang = dr.lang AND dr.rn = (dr.cnt + 1) // 2
        """,
    )

    def revenue_q(spark, sf_dir):
        """TPC-H Q5-shaped local-supply revenue: customer ⋈ orders ⋈
        lineitem ⋈ supplier (same-nation rule) ⋈ nation ⋈ region='ASIA',
        one order-date year. Plan: the three dimension chains (customer→
        nation→region, supplier) broadcast; lineitem⋈orders is the only
        big-big join — shuffled hash on orderkey, with the date filter
        pushed below it so the shuffle carries one year, not seven.
        Revenue in integer cents, floored per row pre-sum."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderdate >= timestamp '1996-01-01' and "
            "o_orderdate < timestamp '1997-01-01'"
        )
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        r = spark.read.parquet(f"{sf_dir}/region.parquet").filter("r_name = 'ASIA'")
        rev = F.expr(
            "cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .join(
                F.broadcast(s),
                (F.col("l_suppkey") == F.col("s_suppkey"))
                & (F.col("c_nationkey") == F.col("s_nationkey")),
            )
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(F.sum(rev).alias("revenue_c"), F.count("*").alias("n_items"))
        )

    q["revenue_by_nation"] = (
        revenue_q,
        """
        SELECT n_name,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revenue_c,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        """,
    )

    def attribution_q(spark, sf_dir):
        """Time-bounded attribution join (streaming/events.py::
        click_purchase_attribution, here on its batch path): every
        (click, purchase) same-user pair with the purchase inside
        [click, click + 30 min). The same function is Structured
        Streaming's stream-stream join shape — watermarks + the event-time
        range bound give the engine a state-expiry rule."""
        from ..streaming.events import click_purchase_attribution

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        clicks = ev.filter(F.col("event_type") == "click")
        purchases = ev.filter(F.col("event_type") == "purchase")
        return click_purchase_attribution(clicks, purchases)

    q["click_attribution"] = (
        attribution_q,
        """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               CAST(FLOOR(epoch(p.ts)) AS BIGINT)
                 - CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS gap_s
        FROM events c JOIN events p
          ON c.event_type = 'click' AND p.event_type = 'purchase'
         AND c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
        """,
    )

    return q


# ---------------------------------------------------------------------------
# webtext / training-data ops over documents + embeddings
# ---------------------------------------------------------------------------

_STOP_EN = "'the','and','of','to','in','is','that','for','with','was','on','it'"
_STOP_FR = "'le','la','les','de','des','et','est','que','pour','dans','une','un'"
_STOP_DE = "'der','die','das','und','ist','von','mit','für','auf','ein','eine','zu'"
_STOP_ES = "'el','la','los','de','y','es','que','para','con','una','un','en'"
_STOP_EN_L = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was", "on", "it"]
_STOP_FR_L = ["le", "la", "les", "de", "des", "et", "est", "que", "pour", "dans", "une", "un"]
_STOP_DE_L = ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein", "eine", "zu"]
_STOP_ES_L = ["el", "la", "los", "de", "y", "es", "que", "para", "con", "una", "un", "en"]


def build_webtext_queries() -> dict:
    q: dict = {}

    def dedup(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return exact_dedup(docs)

    q["dedup_exact"] = (
        dedup,
        """
        SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM documents GROUP BY md5(text)
        """,
    )

    def dedup_clusters_q(spark, sf_dir):
        """Transitive near-dup clusters: edges = documents sharing any word
        5-gram, components via iterative min-label propagation. The oracle
        states the same closure with a recursive CTE — a genuinely iterative
        operator, still exactly SQL-checkable."""
        from ..operators.components import connected_components, shared_ngram_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = shared_ngram_pairs(docs)
        cc = connected_components(pairs)
        return cc.select(
            F.col("node").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )

    q["dedup_clusters"] = (
        dedup_clusters_q,
        """
        WITH RECURSIVE words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
          FROM words, UNNEST(generate_series(1, len(w)-4)) AS t(i)
          WHERE len(w) >= 5
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        ),
        edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        reach(node, lab) AS (
          SELECT s, s FROM edges
          UNION
          SELECT e.d, r.lab FROM edges e JOIN reach r ON e.s = r.node
        )
        SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
        """,
    )

    def pagerank_q(spark, sf_dir):
        """Fixed-point PageRank (operators/graph.py) over a deterministic
        synthetic link graph (doc_id → (doc_id·k+1) mod N for k in 3,5,7).
        Integer micro-unit arithmetic makes the iterative result exactly
        SQL-statable: the oracle unrolls the 5 power iterations as CTEs."""
        from ..operators.graph import pagerank

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        n = docs.count()
        parts = [
            docs.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * k + 1) % n).alias("dst"),
            )
            for k in (3, 5, 7)
        ]
        edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
        out = pagerank(edges, docs.select(F.col("doc_id").alias("node")), n_iter=5)
        return out.select(F.col("node").alias("doc_id"), "rank_fp")

    _pr_iters = "".join(
        f""",
        r{i} AS (
          SELECT nd.node,
                 (3 * 1000000000000) // (20 * (SELECT n FROM cnt))
                 + COALESCE(c.c, 0) AS r
          FROM nodes nd LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM((17 * p.r) // (20 * d.od)) AS BIGINT) AS c
            FROM edges e JOIN r{i - 1} p ON e.src = p.node
                         JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) c USING (node)
        )"""
        for i in range(1, 6)
    )
    q["pagerank_fixed"] = (
        pagerank_q,
        f"""
        WITH nodes AS (SELECT doc_id AS node FROM documents),
        cnt AS (SELECT COUNT(*) AS n FROM documents),
        edges AS (
          SELECT doc_id AS src, (doc_id * 3 + 1) % (SELECT n FROM cnt) AS dst FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 1) % (SELECT n FROM cnt) FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 7 + 1) % (SELECT n FROM cnt) FROM documents
        ),
        deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
        r0 AS (SELECT node, 1000000000000 // (SELECT n FROM cnt) AS r FROM nodes)
        {_pr_iters}
        SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r5
        """,
    )

    def decontaminate_q(spark, sf_dir):
        """Benchmark decontamination: per-doc count of distinct 3-grams shared
        with the 'benchmark' reference (every 50th document). Broadcast-Bloom
        prefilter + exact verify join — the result is exact, so a plain SQL
        oracle states it."""
        from ..operators.decontaminate import contaminated_docs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ref = docs.filter(F.col("doc_id") % 50 == 0)
        out = contaminated_docs(docs, ref)
        return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))

    q["decontaminate_ngram"] = (
        decontaminate_q,
        """
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
          FROM words, UNNEST(generate_series(1, len(w)-2)) AS t(i)
          WHERE len(w) >= 3
        ),
        ref AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
        SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM grams d JOIN ref USING (g)
        GROUP BY d.doc_id
        """,
    )

    def token_count(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return docs.select(
            "doc_id", F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens")
        )

    q["token_count"] = (
        token_count,
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
    )

    def token_count_bpe(spark, sf_dir):
        """BPE-pre-tokenizer counting mode (Java∩RE2 pattern — textops.py)."""
        from ..operators.textops import with_bpe_token_count

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return with_bpe_token_count(docs).select("doc_id", "n_tokens_bpe")

    from ..operators.textops import BPE_ISH_PATTERN

    q["token_count_bpe"] = (
        token_count_bpe,
        f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN.replace("'", "''")}', 0)) AS BIGINT)
                 AS n_tokens_bpe
        FROM documents
        """,
    )

    def chunk_dedup_q(spark, sf_dir):
        """CCNet/C4-style corpus-wide chunk (line) dedup, keep-first by
        (doc_id, pos). Literal chunk text is the shuffle key so the SQL
        oracle states the identical result (xxhash64 key is the documented
        100 TB variant)."""
        from ..operators.lines import dedup_text_chunks

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup_text_chunks(docs, chunk_words=20)

    q["dedup_text_chunks"] = (
        chunk_dedup_q,
        """
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        chunks AS (
          SELECT doc_id, i AS pos,
                 array_to_string(w[(i*20+1):(i*20+20)], ' ') AS chunk
          FROM words,
               UNNEST(generate_series(0, CAST(ceil(len(w) / 20.0) AS BIGINT) - 1)) AS t(i)
        ),
        own AS (SELECT chunk, MIN(doc_id * 1048576 + pos) AS own FROM chunks GROUP BY chunk),
        kept AS (
          SELECT c.doc_id, c.pos, c.chunk
          FROM chunks c JOIN own o USING (chunk)
          WHERE c.doc_id * 1048576 + c.pos = o.own
        ),
        agg AS (
          SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS text_dedup,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, CAST(ceil(len(w) / 20.0) AS BIGINT) AS n_chunks FROM words)
        SELECT t.doc_id, COALESCE(a.text_dedup, '') AS text_dedup,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept, t.n_chunks
        FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
    )

    def pack_q(spark, sf_dir):
        """Concat-and-chop sequence packing at 256 tokens: layout equals the
        global exclusive prefix sum over doc_id order; computed as a two-phase
        block prefix sum (no single-partition row sort). block_bits=6 so the
        small fixtures still exercise many blocks."""
        from ..operators.packing import pack_token_stream

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return pack_token_stream(docs, max_tokens=256, block_bits=6)

    q["pack_sequences"] = (
        pack_q,
        """
        WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents
        ),
        c AS (
          SELECT doc_id, n_tok,
                 CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
          FROM t
        ),
        s AS (
          SELECT doc_id, n_tok, st, seq_id
          FROM c, UNNEST(generate_series(st // 256, (st + n_tok - 1) // 256)) AS u(seq_id)
          WHERE n_tok > 0
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(GREATEST(st, seq_id * 256) - st AS BIGINT) AS doc_off,
               CAST(GREATEST(st, seq_id * 256) - seq_id * 256 AS BIGINT) AS seq_off,
               CAST(LEAST(st + n_tok, (seq_id + 1) * 256)
                    - GREATEST(st, seq_id * 256) AS BIGINT) AS len
        FROM s
        """,
    )

    def tfidf_q(spark, sf_dir):
        """Top-5 distinguishing terms per doc by the integer tf-idf surrogate
        (textops.top_terms_tfidf — `(tf*N) div df`, exact cross-engine)."""
        from ..operators.textops import top_terms_tfidf

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return top_terms_tfidf(docs, k=5)

    q["tfidf_top_terms"] = (
        tfidf_q,
        """
        WITH terms AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
        dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents)
        SELECT doc_id, rn, term, tf, df, score FROM (
          SELECT t.doc_id, t.term, t.tf, d.df,
                 (t.tf * (SELECT n FROM n)) // d.df AS score,
                 CAST(row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY (t.tf * (SELECT n FROM n)) // d.df DESC, t.term
                 ) AS BIGINT) AS rn
          FROM tf t JOIN dft d USING (term)
        ) WHERE rn <= 5
        """,
    )

    def stopword_ratio(spark, sf_dir):
        # same explode shape as lang_id (codegen over interpreted HOFs)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = F.split(F.lower(F.col("text")), " ", -1)
        all_stops = sorted(set(_STOP_EN_L + _STOP_FR_L + _STOP_DE_L + _STOP_ES_L))
        ex = docs.select("doc_id", F.size(toks).alias("n_toks"), F.explode_outer(toks).alias("tok"))
        votes = ex.groupBy("doc_id", "n_toks").agg(
            F.sum(F.when(F.col("tok").isin(all_stops), 1).otherwise(0)).alias("n_stop")
        )
        ratio = F.when(F.col("n_toks") == 0, F.lit(0.0)).otherwise(
            F.col("n_stop").cast("double") / F.col("n_toks").cast("double")
        )
        return votes.select("doc_id", ratio.alias("stopword_ratio"))

    all_stops_sql = ",".join(
        f"'{s}'" for s in sorted(set(_STOP_EN_L + _STOP_FR_L + _STOP_DE_L + _STOP_ES_L))
    )
    q["quality_stopword_ratio"] = (
        stopword_ratio,
        f"""
        SELECT doc_id,
               CASE WHEN len(string_split(lower(text), ' ')) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t IN ({all_stops_sql}))) AS DOUBLE)
                         / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
               END AS stopword_ratio
        FROM documents
        """,
    )

    def langid(spark, sf_dir):
        # ZERO-SHUFFLE shape: per-row higher-order `filter` vote counts, no
        # explode. Bench-off at sf0.1/local[32] (round 2): explode+partial-agg
        # and this HOF shape are equal warm (~0.42 s vs ~0.40 s), but the
        # explode materializes ~500× the fact rows through a hash aggregate —
        # the stage that degraded worst under host memory-bandwidth contention
        # (22-31 s spikes) and the one a 100 TB corpus cannot afford. The
        # interpreted-HOF overhead the explode shape was originally chosen to
        # avoid measures as noise at both scales.
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = F.split(F.lower(F.col("text")), " ", -1)

        def votes(stops):
            return F.size(F.filter(toks, lambda t: t.isin(stops)))

        v = {
            "en": votes(_STOP_EN_L),
            "fr": votes(_STOP_FR_L),
            "de": votes(_STOP_DE_L),
            "es": votes(_STOP_ES_L),
        }
        # argmax with tie order en > fr > de > es; all-zero → 'und'
        pred = (
            F.when(
                (v["en"] >= v["fr"]) & (v["en"] >= v["de"]) & (v["en"] >= v["es"]) & (v["en"] > 0),
                F.lit("en"),
            )
            .when((v["fr"] >= v["de"]) & (v["fr"] >= v["es"]) & (v["fr"] > 0), F.lit("fr"))
            .when((v["de"] >= v["es"]) & (v["de"] > 0), F.lit("de"))
            .when(v["es"] > 0, F.lit("es"))
            .otherwise(F.lit("und"))
        )
        return docs.select("doc_id", pred.alias("predicted_lang"))

    def _votes_sql(stops: str) -> str:
        return f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({stops})))"

    ven, vfr, vde, ves = (
        _votes_sql(_STOP_EN),
        _votes_sql(_STOP_FR),
        _votes_sql(_STOP_DE),
        _votes_sql(_STOP_ES),
    )
    q["lang_id"] = (
        langid,
        f"""
        SELECT doc_id,
               CASE
                 WHEN {ven} >= {vfr} AND {ven} >= {vde} AND {ven} >= {ves} AND {ven} > 0 THEN 'en'
                 WHEN {vfr} >= {vde} AND {vfr} >= {ves} AND {vfr} > 0 THEN 'fr'
                 WHEN {vde} >= {ves} AND {vde} > 0 THEN 'de'
                 WHEN {ves} > 0 THEN 'es'
                 ELSE 'und'
               END AS predicted_lang
        FROM documents
        """,
    )

    def ngram_fp(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = F.split(F.lower(F.col("text")), " ", -1)
        fp = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
        return docs.select("doc_id", F.md5(fp).alias("vocab_fingerprint"))

    q["vocab_fingerprint"] = (
        ngram_fp,
        """
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
                   AS vocab_fingerprint
        FROM documents
        """,
    )

    def doc_stats(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return docs.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )

    q["doc_length_stats"] = (
        doc_stats,
        """
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY lang
        """,
    )

    def repetition(spark, sf_dir):
        """Gopher duplicate-bigram rule — zero-shuffle native-HOF pass."""
        from ..operators.textops import with_repetition

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return with_repetition(docs).select(
            "doc_id", "n_bigrams", "n_distinct_bigrams", "dup_bigram_ratio"
        )

    q["repetition_dup_bigrams"] = (
        repetition,
        """
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bi AS (
          SELECT doc_id, w[i] || ' ' || w[i+1] AS g
          FROM words, UNNEST(generate_series(1, len(w)-1)) AS t(i)
          WHERE len(w) >= 2
        ),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_bigrams
          FROM bi GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.n_bigrams, 0) AS n_bigrams,
               COALESCE(a.n_distinct_bigrams, 0) AS n_distinct_bigrams,
               CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 0.0
                    ELSE 1.0 - CAST(a.n_distinct_bigrams AS DOUBLE)
                             / CAST(a.n_bigrams AS DOUBLE) END AS dup_bigram_ratio
        FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
    )

    def url_canon(spark, sf_dir):
        """URL canonicalization + keep-newest-capture dedup. The messy URL is
        SYNTHESIZED from doc_id (mixed-case scheme/host, explicit default and
        non-default ports, empty paths, utm_*/fbclid tracking params,
        fragments) and parsed back by the real operator; the oracle assembles
        the expected canonical form directly from the same parts. Everything
        derives from b = doc_id % 60, so ~60 canonical groups exist and the
        latest-capture winner (ts monotonic in doc_id) is exercised for real."""
        from ..operators.urls import canonicalize_url, url_dedup_latest

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        b = F.col("doc_id") % 60
        scheme = F.when(b % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP"))
        host = F.concat(F.lit("Site"), (b % 3).cast("string"), F.lit(".Example.COM"))
        port = (
            F.when((b % 4 == 0) & (b % 2 == 0), F.lit(":443"))
            .when(b % 4 == 0, F.lit(":80"))
            .when(b % 4 == 1, F.lit(":8080"))
            .otherwise(F.lit(""))
        )
        path = F.when(b % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), (b % 5).cast("string"))
        )
        query = (
            F.when(b % 7 == 0, F.concat(F.lit("?utm_source=x&id="), (b % 10).cast("string")))
            .when(b % 7 == 1, F.lit("?utm_campaign=y"))
            .when(b % 7 == 2, F.lit("?a=1&fbclid=z&b=2"))
            .otherwise(F.lit(""))
        )
        frag = F.when(b % 3 == 0, F.lit("#frag")).otherwise(F.lit(""))
        pages = docs.select(
            "doc_id",
            F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias("url"),
            (F.lit(1700000000) + F.col("doc_id") * 37).cast("long").alias("fetch_ts"),
        )
        out = url_dedup_latest(
            canonicalize_url(pages).drop("url"), ts_col="fetch_ts"
        )
        return out.select(
            "canonical_url",
            F.col("doc_id").alias("kept_doc"),
            F.col("fetch_ts").alias("last_ts"),
            F.col("n_dups").cast("long").alias("n_dups"),
        )

    q["url_canonical_dedup"] = (
        url_canon,
        """
        WITH p AS (
          SELECT doc_id, doc_id % 60 AS b,
                 CAST(1700000000 + doc_id * 37 AS BIGINT) AS fetch_ts
          FROM documents
        ),
        canon AS (
          SELECT doc_id, fetch_ts,
                 (CASE WHEN b % 2 = 0 THEN 'https' ELSE 'http' END)
                 || '://site' || CAST(b % 3 AS VARCHAR) || '.example.com'
                 || (CASE WHEN b % 4 = 1 THEN ':8080' ELSE '' END)
                 || (CASE WHEN b % 5 = 0 THEN '/' ELSE '/p/' || CAST(b % 5 AS VARCHAR) END)
                 || (CASE WHEN b % 7 = 0 THEN '?id=' || CAST(b % 10 AS VARCHAR)
                          WHEN b % 7 = 2 THEN '?a=1&b=2'
                          ELSE '' END) AS canonical_url
          FROM p
        )
        SELECT canonical_url,
               max_by(doc_id, fetch_ts) AS kept_doc,
               MAX(fetch_ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM canon GROUP BY canonical_url
        """,
    )

    def pii(spark, sf_dir):
        """PII scrub: emails/IPv4s/intl phones are PLANTED into the document
        text from doc_id, then the real redaction operator rewrites them; the
        oracle applies the identical regex chain in DuckDB (patterns restricted
        to the Java∩RE2 common subset — see operators.textops.PII_PATTERNS)."""
        from ..operators.textops import redact_pii

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        d = F.col("doc_id")
        txt = F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@ex"),
            (d % 7).cast("string"),
            F.lit(".org"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(" ip 10.0."), (d % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(F.lit(" call +33"), (d + 600000000).cast("string")),
            ).otherwise(F.lit("")),
        )
        planted = docs.select("doc_id", txt.alias("text"))
        return redact_pii(planted).select(
            "doc_id", "n_email", "n_ipv4", "n_phone", "text_redacted"
        )

    from ..operators.textops import PII_PATTERNS as _PII

    _em, _ip, _ph = _PII["email"][0], _PII["ipv4"][0], _PII["phone"][0]
    q["pii_redaction"] = (
        pii,
        f"""
        WITH t AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) || '@ex'
                 || CAST(doc_id % 7 AS VARCHAR) || '.org'
                 || (CASE WHEN doc_id % 3 = 0
                          THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                          ELSE '' END)
                 || (CASE WHEN doc_id % 5 = 0
                          THEN ' call +33' || CAST(doc_id + 600000000 AS VARCHAR)
                          ELSE '' END) AS txt
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(txt, '{_em}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(txt, '{_ip}')) AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(txt, '{_ph}')) AS BIGINT) AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(
                   txt, '{_em}', '<EMAIL>', 'g'),
                        '{_ip}', '<IP>', 'g'),
                        '{_ph}', '<PHONE>', 'g') AS text_redacted
        FROM t
        """,
    )

    def hash_split(spark, sf_dir):
        """Deterministic train/val/test split. The portable-arithmetic bucket
        (same int64 ops both engines) goes through the REAL operator via its
        bucket_expr seam; production defaults to xxhash64 (pytest-pinned)."""
        from ..operators.sampling import split_by_hash

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bucket = (F.col("doc_id") * F.lit(PX_MUL)) % F.lit(1000)
        out = split_by_hash(
            docs, val_permille=100, test_permille=50, bucket_expr=bucket
        )
        return out.select("doc_id", "split")

    q["split_by_hash"] = (
        hash_split,
        f"""
        SELECT doc_id,
               CASE WHEN (doc_id * {PX_MUL}) % 1000 < 100 THEN 'val'
                    WHEN (doc_id * {PX_MUL}) % 1000 < 150 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
        """,
    )

    def host_cap(spark, sf_dir):
        """Per-host quota (domain-dominance control): hosts synthesized from
        doc_id % 7 (~70 docs/host at sf0.01), capped at 20 hash-smallest."""
        from ..operators.sampling import cap_per_host

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        host = F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"))
        rank = (F.col("doc_id") * F.lit(BY_MUL)) % F.lit(BY_MOD)
        out = cap_per_host(
            docs.withColumn("host", host), max_docs=20, rank_expr=rank
        )
        return out.select("host", "doc_id")

    q["cap_per_host"] = (
        host_cap,
        f"""
        WITH h AS (
          SELECT doc_id, 'site' || CAST(doc_id % 7 AS VARCHAR) AS host,
                 (doc_id * {BY_MUL}) % {BY_MOD} AS rk
          FROM documents
        ),
        r AS (
          SELECT host, doc_id,
                 row_number() OVER (PARTITION BY host ORDER BY rk, doc_id) AS rn
          FROM h
        )
        SELECT host, doc_id FROM r WHERE rn <= 20
        """,
    )

    def ann(spark, sf_dir):
        from ..operators.similarity import ann_bruteforce_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ann_bruteforce_topk(emb, queries, k=10).select("query_id", "rank", "vec_id")

    q["ann_topk"] = (
        ann,
        """
        WITH unit AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x /
                       sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y), 'sum')))
                   AS u
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, b.vec_id,
                   list_aggregate(list_transform(list_zip(b.u, q.u),
                       p -> p[1] * p[2]), 'sum') AS cosine
            FROM unit b, unit q WHERE q.vec_id < 5
        ),
        ranked AS (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
            FROM scored
        )
        SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 10
        """,
    )

    # ---- embedding cosine near-dup (banded multi-table hyperplane LSH) --------
    # The synthetic embeddings top out at pairwise cosine ~0.51, so the positive
    # path is exercised by planting deterministic near-dups: perturbed copies
    # (first component ×1.02, id +10M) of the first 25 vectors. The oracle is
    # brute-force exact cosine over all pairs — the LSH must find every planted
    # pair (at cosine ≈0.9998 the 8-table×8-bit miss probability is ~5e-14) and
    # nothing else (next-highest pair ~0.51 vs threshold 0.9; no fp boundary).
    def emb_neardup(spark, sf_dir):
        from ..operators.dedup import embedding_neardup_pairs

        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") < 500)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        )
        pert = emb.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.concat(
                F.array(F.element_at("embedding", 1) * F.lit(1.02)),
                F.slice("embedding", 2, F.size("embedding") - 1),
            ).alias("embedding"),
        )
        return embedding_neardup_pairs(emb.unionByName(pert), threshold=0.9).select("a", "b")

    q["dedup_embedding_cosine"] = (
        emb_neardup,
        """
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id < 500
        ),
        pert AS (
            SELECT vec_id + 10000000 AS vec_id,
                   list_concat([e[1] * 1.02], e[2:]) AS e
            FROM base WHERE vec_id < 25
        ),
        allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        unit AS (
            SELECT vec_id,
                   list_transform(e, x -> x /
                       sqrt(list_aggregate(list_transform(e, y -> y * y), 'sum'))) AS u
            FROM allv
        )
        SELECT p.vec_id AS a, q.vec_id AS b
        FROM unit p, unit q
        WHERE p.vec_id < q.vec_id
          AND list_aggregate(list_transform(list_zip(p.u, q.u),
              z -> z[1] * z[2]), 'sum') >= 0.9
        """,
    )

    # ---- salted two-phase count (skew handling; identical result to a plain
    # GROUP BY — the salt only bounds per-reducer input) ------------------------
    def salted_counts(spark, sf_dir):
        from ..operators.spatial_join import salted_count

        pts = doc_points(spark, sf_dir)
        cells = pts.select(
            "doc_id",
            (F.floor((F.col("x") + F.lit(HALF)) / F.lit(SPAN))).alias("tile_x"),
            (F.floor((F.lit(HALF) - F.col("y")) / F.lit(SPAN))).alias("tile_y"),
        )
        return salted_count(cells, ["tile_x", "tile_y"], n_salt=16)

    q["salted_cell_counts"] = (
        salted_counts,
        f"""
        WITH pts AS ({DOC_POINTS_SQL})
        SELECT CAST(FLOOR((x + {HALF!r}) / {SPAN!r}) AS BIGINT) AS tile_x,
               CAST(FLOOR(({HALF!r} - y) / {SPAN!r}) AS BIGINT) AS tile_y,
               COUNT(*) AS count
        FROM pts
        GROUP BY 1, 2
        """,
    )

    # ---- heat-map LOD thinning (deterministic per-cell sampling) --------------
    def lod_thin(spark, sf_dir):
        from ..operators.lod import TILE_SIZE, lod_thinning

        pts = doc_points(spark, sf_dir)
        inst = pts.select(
            F.col("doc_id").alias("instance_id"),
            ((F.col("x") + F.lit(HALF)) % F.lit(TILE_SIZE)).alias("local_x"),
            ((F.col("y") + F.lit(HALF)) % F.lit(TILE_SIZE)).alias("local_y"),
        )
        return lod_thinning(inst, fraction=0.25).select(
            "instance_id", "heat_cell"
        )

    _ts = m.tile_span(16)
    q["lod_thinning"] = (
        lod_thin,
        f"""
        WITH pts AS ({DOC_POINTS_SQL}),
        inst AS (
            SELECT doc_id AS instance_id,
                   (x + {HALF!r}) % {_ts!r} AS local_x,
                   (y + {HALF!r}) % {_ts!r} AS local_y
            FROM pts
        ),
        cells AS (
            SELECT instance_id,
                   CAST(FLOOR(local_x / {_ts!r} * 12) + FLOOR(local_y / {_ts!r} * 12) * 12 AS BIGINT)
                       AS heat_cell
            FROM inst
        ),
        ranked AS (
            SELECT instance_id, heat_cell,
                   row_number() OVER (PARTITION BY heat_cell ORDER BY instance_id) AS rn,
                   COUNT(*) OVER (PARTITION BY heat_cell) AS n
            FROM cells
        )
        SELECT instance_id, heat_cell
        FROM ranked
        WHERE rn <= GREATEST(FLOOR(n * 0.25 + 0.5), 1)
        """,
    )

    # ---- exact n-gram Jaccard dedup (inverted index, pure relational) ---------
    def ngram_jaccard(spark, sf_dir):
        from ..operators.dedup import ngram_jaccard_exact

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return ngram_jaccard_exact(docs, n=3, threshold_num=3, threshold_den=5)

    q["dedup_ngram_jaccard"] = (
        ngram_jaccard,
        """
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                   unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT w1.doc_id AS id, w1.w || ' ' || w2.w || ' ' || w3.w AS g
            FROM w w1
            JOIN w w2 ON w2.doc_id = w1.doc_id AND w2.ord = w1.ord + 1
            JOIN w w3 ON w3.doc_id = w1.doc_id AND w3.ord = w1.ord + 2
        ),
        sizes AS (SELECT id, COUNT(*) AS sz FROM grams GROUP BY id),
        inter AS (
            SELECT ga.id AS a, gb.id AS b, COUNT(*) AS inter
            FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.id < gb.id
            GROUP BY ga.id, gb.id
        )
        SELECT i.a, i.b, i.inter, sa.sz + sb.sz - i.inter AS union_sz
        FROM inter i
        JOIN sizes sa ON sa.id = i.a
        JOIN sizes sb ON sb.id = i.b
        WHERE i.inter * 5 >= (sa.sz + sb.sz - i.inter) * 3
        """,
    )

    def mix_domains_q(spark, sf_dir):
        """Temperature-based domain mixing (exponent-smoothed multilingual /
        multi-domain resampling, alpha = 0.5): fixed-point sqrt weights and
        floor apportionment are exact integer math end to end (IEEE sqrt and
        multiply are correctly rounded, so DuckDB states identical BIGINTs),
        selection keeps each domain's md5-hash-smallest documents."""
        from ..operators.sampling import mix_domains

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return mix_domains(docs, target_total=200)

    q["mix_domains_temperature"] = (
        mix_domains_q,
        """
        WITH n AS (SELECT source, COUNT(*) AS n_d FROM documents GROUP BY source),
        s AS (
            SELECT source,
                   CAST(FLOOR(SQRT(CAST(n_d AS DOUBLE) * 1e12)) AS BIGINT) AS s_d
            FROM n
        ),
        t AS (
            SELECT source, (200 * s_d) // (SELECT SUM(s_d) FROM s) AS tgt FROM s
        ),
        r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents
        )
        SELECT r.doc_id, r.source FROM r JOIN t USING (source) WHERE rk <= t.tgt
        """,
    )

    def substring_spans(spark, sf_dir):
        """Suffix-array-style exact substring dedup (Lee et al. 2021)
        re-expressed scale-safe: content-defined md5-prefix window sampling
        (winnowing-flavored, offset-independent), whole-stage-codegen HOF
        extraction (the window text never leaves the stage — only 32-char
        md5 anchors shuffle), then anchor-keyed aggregation. The oracle
        states the identical semantics over ALL windows with the same md5
        sample predicate — md5 is the one hash both engines share bit-for-bit."""
        from ..operators.dedup import exact_substring_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return exact_substring_spans(docs, sample_hex_prefix="0")

    q["dedup_exact_substring"] = (
        substring_spans,
        """
        WITH w AS (
            SELECT doc_id, md5(win) AS wkey
            FROM (
                SELECT doc_id, substr(text, i, 40) AS win
                FROM documents,
                     LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
                WHERE length(text) >= 40
            )
            WHERE substr(md5(win), 1, 1) = '0'
        ),
        per_doc AS (
            SELECT doc_id, wkey, COUNT(*) AS n_occ FROM w GROUP BY doc_id, wkey
        ),
        anchors AS (
            SELECT wkey FROM per_doc GROUP BY wkey HAVING COUNT(*) >= 2
        )
        SELECT doc_id,
               COUNT(*) AS n_dup_windows,
               CAST(SUM(n_occ) AS BIGINT) AS n_dup_occurrences
        FROM per_doc JOIN anchors USING (wkey)
        GROUP BY doc_id
        """,
    )

    # ---- 3D construction: per-building surface metrics through the REAL roof +
    # walls kernels (flat default path); the oracle states the closed-form areas
    # for axis-aligned rectangles ------------------------------------------------
    def build3d_metrics(spark, sf_dir):
        import numpy as np
        import pandas as pd

        rects = rect_buildings(spark, sf_dir).select(
            "osm_id", "x0", "y0", "x1", "y1",
            (F.lit(12.0) + (F.col("osm_id") % 5).cast("double") * 4.0).alias("bh"),
        )

        schema = T.StructType([
            T.StructField("osm_id", T.LongType()),
            T.StructField("roof_area_l", T.LongType()),
            T.StructField("wall_area_l", T.LongType()),
        ])

        def _metrics(batches):
            from ..operators.build3d import build_single_building

            for pdf in batches:
                ids, roof_l, wall_l = [], [], []
                for row in pdf.itertuples():
                    # tile-local framing: offset by the rect's own corner so the
                    # kernels run at local precision (same as the tile offset)
                    w = row.x1 - row.x0
                    h = row.y1 - row.y0
                    ring = [[0.0, 0.0], [w, 0.0], [w, h], [0.0, h], [0.0, 0.0]]
                    desc = dict(
                        building_height=row.bh, building_min_height=0.0,
                        building_roof_height=0.0, building_levels=3.0,
                        building_roof_type="flat", building_roof_material="default",
                        building_roof_color=None, building_roof_direction=None,
                        building_roof_orientation=None,
                        building_facade_material="cementBlock",
                        building_facade_color=None,
                    )
                    acc = build_single_building(desc, [np.asarray(ring)], ["outer"])
                    pos = np.concatenate(acc.position).reshape(-1, 3, 3)
                    cr = np.cross(pos[:, 1] - pos[:, 0], pos[:, 2] - pos[:, 0])
                    total = np.linalg.norm(cr, axis=1).sum() / 2.0
                    roof = np.abs(cr[:, 2]).sum() / 2.0  # xy-projected = horizontal
                    ids.append(row.osm_id)
                    roof_l.append(int(np.floor(roof + 0.5)))
                    wall_l.append(int(np.floor(total - roof + 0.5)))
                yield pd.DataFrame({"osm_id": ids, "roof_area_l": roof_l, "wall_area_l": wall_l})

        return rects.mapInPandas(_metrics, schema=schema)

    q["build3d_rect_metrics"] = (
        build3d_metrics,
        f"""
        WITH r0 AS ({RECTS_SQL})
        SELECT osm_id,
               CAST(FLOOR(4 * hw * hh + 0.5) AS BIGINT) AS roof_area_l,
               CAST(FLOOR((4 * hw + 4 * hh) * (12 + (osm_id % 5) * 4) + 0.5) AS BIGINT) AS wall_area_l
        FROM r0
        """,
    )

    def histogram_q(spark, sf_dir):
        """Corpus length histogram: fixed 500-char buckets, top bucket
        open-ended — one map-side-combinable groupBy, the profiling pass a
        curation pipeline runs before choosing filter thresholds."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bucket = F.least(F.expr("n_chars div 500"), F.lit(19)).cast("long")
        return docs.groupBy(bucket.alias("bucket")).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )

    q["doc_length_histogram"] = (
        histogram_q,
        """
        SELECT CAST(LEAST(n_chars // 500, 19) AS BIGINT) AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars_total
        FROM documents GROUP BY 1
        """,
    )

    def sample_q(spark, sf_dir):
        """Deterministic stratified sampling: downsample the dominant
        language (en ~ 25%), keep 75% of the rest — the
        minority-upweighting mix step of a training-data pipeline. The
        keep/drop decision is a pure function of doc_id (md5 prefix vs a
        per-stratum threshold): no RNG state, reproducible on any cluster
        layout, and a filter Catalyst pushes to the scan."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        thresh = F.when(F.col("lang") == "en", F.lit("4000")).otherwise(F.lit("c000"))
        keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < thresh
        return docs.filter(keep).select("doc_id", "lang")

    q["sample_stratified"] = (
        sample_q,
        """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < CASE WHEN lang = 'en' THEN '4000' ELSE 'c000' END
        """,
    )

    def centroids_q(spark, sf_dir):
        """Per-label embedding centroids in fixed point: posexplode the
        vector column, scale each float32 component to integer micro-units
        (exact after the float→double widening), SUM per (label, dim) —
        order-independent, so the float "mean vector" is exactly
        SQL-statable. Emits (n, sum_fp) rather than the quotient: the
        components are signed and Spark `div` (truncate) differs from a
        floor division on negatives."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exploded = emb.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        ).filter(F.col("dim") < 8)
        fp = F.floor(F.col("v").cast("double") * 1000000 + 0.5).cast("long")
        return exploded.groupBy("label", "dim").agg(
            F.count("*").alias("n"), F.sum(fp).alias("sum_fp")
        ).select(
            F.col("label").cast("long").alias("label"),
            F.col("dim").cast("long").alias("dim"),
            "n",
            "sum_fp",
        )

    q["label_centroids"] = (
        centroids_q,
        """
        SELECT CAST(label AS BIGINT) AS label,
               CAST(i - 1 AS BIGINT) AS dim,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_fp
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        WHERE i <= 8
        GROUP BY 1, 2
        """,
    )

    def norms_q(spark, sf_dir):
        """Per-vector squared L2 norm in fixed point via array HOFs —
        transform + aggregate INSIDE the row (no explode, no shuffle at
        all): the plan is a single project over the scan, the shape that
        survives 10^12 rows untouched. Components scale to micro-units
        before squaring so the arithmetic is integer-exact cross-engine."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # NULL elements filtered + empty arrays coalesced to 0 on BOTH
        # sides: Spark aggregate NULL-propagates and returns 0 on empty,
        # DuckDB list_sum skips NULLs and returns NULL on empty — without
        # the normalization the two diverge the day a fixture grows an
        # empty or NULL-holding vector
        return emb.selectExpr(
            "vec_id",
            "coalesce(aggregate(transform("
            "  filter(embedding, v -> v is not null), v -> "
            "  cast(floor(cast(v as double) * 1000000 + 0.5) as bigint)"
            "  * cast(floor(cast(v as double) * 1000000 + 0.5) as bigint)), "
            "  cast(0 as bigint), (acc, x) -> acc + x), cast(0 as bigint))"
            " as norm2_fp",
        )

    q["embedding_norms_fp"] = (
        norms_q,
        """
        SELECT vec_id,
               CAST(COALESCE(list_sum(list_transform(
                   list_filter(embedding, v -> v IS NOT NULL), v ->
                   CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                   * CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))), 0)
                   AS BIGINT) AS norm2_fp
        FROM embeddings
        """,
    )

    def quantiles_q(spark, sf_dir):
        """Exact discrete quantiles per language (operators/sampling.py):
        rank-selection median + p90 of n_chars — the curation-threshold
        primitive, interpolation-free so it's engine-exact."""
        from ..operators.sampling import exact_quantiles

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return exact_quantiles(docs, value="n_chars", group="lang", tiebreak="doc_id")

    q["doc_length_quantiles"] = (
        quantiles_q,
        """
        WITH ranked AS (
            SELECT lang, n_chars,
                   row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
               MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median,
               MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END) AS p90
        FROM ranked GROUP BY lang
        """,
    )

    def decile_q(spark, sf_dir):
        """NTILE decile assignment — the 'drop the shortest decile'
        curation primitive as a window op: documents ranked per lang by
        (n_chars, doc_id) (the unique tiebreak makes NTILE deterministic;
        both engines give early tiles the remainder), rolled up to
        per-(lang, decile) counts + char sums."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
        return (
            docs.withColumn("decile", F.ntile(10).over(w))
            .groupBy("lang", F.col("decile").cast("long").alias("decile"))
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("n_chars_sum"),
            )
        )

    q["doc_decile_counts"] = (
        decile_q,
        """
        WITH t AS (
            SELECT lang, n_chars,
                   NTILE(10) OVER (PARTITION BY lang
                                   ORDER BY n_chars, doc_id) AS decile
            FROM documents
        )
        SELECT lang, CAST(decile AS BIGINT) AS decile,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
        FROM t GROUP BY lang, decile
        """,
    )

    def quantiles_hist_q(spark, sf_dir):
        """Same statistic as doc_length_quantiles, SCALE plan (operators/
        sampling.py::exact_quantiles_by_value): aggregate to the per-value
        histogram first (the only full-data shuffle, map-side combinable),
        then rank-select over histogram cells — the per-group window never
        sees raw rows. Both queries must agree bit-for-bit; the driver
        checks each against the same discrete-rank oracle shape."""
        from ..operators.sampling import exact_quantiles_by_value

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return exact_quantiles_by_value(docs, "n_chars", "lang")

    q["doc_length_quantiles_hist"] = (
        quantiles_hist_q,
        """
        WITH cells AS (
            SELECT lang, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2
        ),
        walk AS (
            SELECT lang, n_chars,
                   SUM(c) OVER (PARTITION BY lang ORDER BY n_chars
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER (PARTITION BY lang) AS n
            FROM cells
        )
        SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN n_chars END) AS median,
               MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_chars END) AS p90
        FROM walk GROUP BY lang
        """,
    )

    def triangles_q(spark, sf_dir):
        """Per-node triangle counts (operators/sketches.py) on a
        deterministic crawl link graph with guaranteed triangles: doc_id
        links to doc_id+1, doc_id+2 (ring — every consecutive triple is a
        3-clique) and 3*doc_id+1 (irregular chords), all mod N,
        undirected."""
        from ..operators.sketches import triangle_counts

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        n = docs.count()
        parts = [
            docs.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * k + j) % n).alias("dst"),
            )
            for k, j in ((1, 1), (1, 2), (3, 1))
        ]
        edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
        return triangle_counts(edges).select(
            F.col("node").cast("long").alias("doc_id"),
            "n_triangles",
        )

    q["triangle_counts"] = (
        triangles_q,
        """
        WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
        raw AS (
          SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM cnt) AS dst FROM documents
          UNION ALL
          SELECT doc_id, (doc_id + 2) % (SELECT n FROM cnt) FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 3 + 1) % (SELECT n FROM cnt) FROM documents
        ),
        e AS (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM raw WHERE src <> dst
        ),
        tri AS (
          SELECT ab.a, ab.b, bc.b AS c
          FROM e ab JOIN e bc ON ab.b = bc.a
                    JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
        ),
        corners AS (
          SELECT a AS node FROM tri UNION ALL
          SELECT b FROM tri UNION ALL
          SELECT c FROM tri
        )
        SELECT CAST(node AS BIGINT) AS doc_id, COUNT(*) AS n_triangles
        FROM corners GROUP BY node
        """,
    )

    def top_tokens_q(spark, sf_dir):
        """Exact corpus top-25 tokens via the two-pass heavy-hitter plan
        (operators/sketches.py::heavy_hitters): map-side Misra-Gries
        candidate summaries (zero shuffle over the token stream), broadcast
        semi-join recount of candidates only, runtime-certified exact
        against the measured decrement mass."""
        from ..operators.sketches import heavy_hitters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
        ).filter(F.col("token") != "")
        return heavy_hitters(toks, "token", k=25, capacity=1024)

    q["top_tokens"] = (
        top_tokens_q,
        """
        WITH toks AS (
            SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
            FROM documents
        )
        SELECT token, COUNT(*) AS cnt
        FROM toks WHERE token <> ''
        GROUP BY token
        ORDER BY cnt DESC, token
        LIMIT 25
        """,
    )

    def pps_q(spark, sf_dir):
        """Token-budget subsample (operators/sampling.py::
        pps_systematic_sample): walk documents in doc_id order, keep every
        row whose cumulative n_chars crosses a 5000-char stride — PPS
        systematic sampling with integer cumsum crossings, bit-exact in
        SQL."""
        from ..operators.sampling import pps_systematic_sample

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return pps_systematic_sample(docs, "n_chars", "doc_id", step=5000).select(
            "doc_id", "n_chars"
        )

    q["pps_token_sample"] = (
        pps_q,
        """
        WITH c AS (
            SELECT doc_id, n_chars,
                   SUM(n_chars) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
            FROM documents
        )
        SELECT doc_id, n_chars
        FROM c
        WHERE cum // 5000 > (cum - n_chars) // 5000
        """,
    )

    def curation_q(spark, sf_dir):
        """End-to-end curation rollup — the webtext 'second flagship'
        composing the pipeline stages a pre-training corpus runs through:
        exact dedup (keep the min doc_id per identical text), a length
        gate, then per-(source, lang) survivor counts + whitespace-token
        sums. One window shuffle on the text hash, one final partial-agg
        shuffle; every stage is a primitive this contract already checks
        in isolation — this query pins their COMPOSITION."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        kept = (
            docs.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("n_chars") >= 50))
            .drop("_rn")
        )
        return kept.groupBy("source", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " ", -1)).cast("long")).alias("n_tokens"),
            F.sum("n_chars").alias("n_chars_sum"),
        )

    q["curation_pipeline"] = (
        curation_q,
        """
        WITH ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
            FROM documents
        ),
        kept AS (
            SELECT * FROM ranked WHERE rn = 1 AND n_chars >= 50
        )
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
        FROM kept
        GROUP BY source, lang
        """,
    )

    def skyline_q(spark, sf_dir):
        """Pareto-frontier curation (operators/skyline.py): documents not
        dominated on (n_chars, rarity) — two deterministic maximized
        criteria; two-phase local/global skyline, oracle = the textbook
        NOT EXISTS dominance anti-join."""
        from ..operators.skyline import skyline

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "n_chars",
            ((F.col("doc_id") * 7919 + 13) % 1000).alias("rarity"),
        )
        return skyline(docs, ["n_chars", "rarity"])

    q["doc_skyline"] = (
        skyline_q,
        """
        WITH t AS (
            SELECT doc_id, n_chars, (doc_id * 7919 + 13) % 1000 AS rarity
            FROM documents
        )
        SELECT a.doc_id, a.n_chars, a.rarity
        FROM t a
        WHERE NOT EXISTS (
            SELECT 1 FROM t b
            WHERE b.n_chars >= a.n_chars AND b.rarity >= a.rarity
              AND (b.n_chars > a.n_chars OR b.rarity > a.rarity)
        )
        """,
    )

    def top_tokens_lang_q(spark, sf_dir):
        """Grouped exact heavy hitters (operators/sketches.py::
        heavy_hitters_by_group): top-5 tokens PER LANGUAGE via per-group
        map-side Misra-Gries candidates + broadcast semi-join recount —
        the window rank only ever sees candidate counts, never the raw
        token domain."""
        from ..operators.sketches import heavy_hitters_by_group

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = docs.select(
            F.col("lang").alias("group"),
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"),
        ).filter(F.col("token") != "")
        out = heavy_hitters_by_group(toks, "token", k=5, capacity=1024)
        return out.select(
            F.col("group").alias("lang"), "token", "cnt",
            F.col("rank").cast("long").alias("rank"),
        )

    q["top_tokens_per_lang"] = (
        top_tokens_lang_q,
        """
        WITH toks AS (
            SELECT lang,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
            FROM documents
        ),
        counts AS (
            SELECT lang, token, COUNT(*) AS cnt
            FROM toks WHERE token <> ''
            GROUP BY lang, token
        )
        SELECT lang, token, cnt, CAST(rank AS BIGINT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY cnt DESC, token) AS rank
            FROM counts
        ) WHERE rank <= 5
        """,
    )

    def geo_clusters_q(spark, sf_dir):
        """eps-connectivity spatial clustering (operators/cluster.py):
        deterministic per-doc geotags in a 1000x1000 frame, eps=8 —
        grid-bucketed neighbor join + connected components. The oracle is
        the brute-force O(n^2) distance join + recursive-CTE closure; the
        grid plan must reproduce it exactly."""
        from ..operators.cluster import spatial_clusters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pts = docs.select(
            F.col("doc_id").alias("pid"),
            (((F.col("doc_id") * 2654435761) % 100000).cast("double") / 100.0).alias("x"),
            (((F.col("doc_id") * 40503 + 17) % 100000).cast("double") / 100.0).alias("y"),
        )
        out = spatial_clusters(pts, 8.0)
        return out.select(F.col("pid").alias("doc_id"), "cluster_id")

    q["geo_clusters"] = (
        geo_clusters_q,
        """
        WITH RECURSIVE pts AS (
            SELECT doc_id,
                   CAST((doc_id * 2654435761) % 100000 AS DOUBLE) / 100.0 AS x,
                   CAST((doc_id * 40503 + 17) % 100000 AS DOUBLE) / 100.0 AS y
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS s, b.doc_id AS d
            FROM pts a JOIN pts b ON a.doc_id < b.doc_id
            WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 64.0
        ),
        edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        reach(node, lab) AS (
            SELECT s, s FROM edges
            UNION
            SELECT e.d, r.lab FROM edges e JOIN reach r ON e.s = r.node
        ),
        cc AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node)
        SELECT p.doc_id,
               CAST(COALESCE(cc.cluster_id, p.doc_id) AS BIGINT) AS cluster_id
        FROM pts p LEFT JOIN cc ON cc.node = p.doc_id
        """,
    )

    def anchor_dist_q(spark, sf_dir):
        """Global geotag distance (functions/geodesic.py): haversine meters
        from each doc's deterministic (lon, lat) to the Paris anchor,
        floored to whole meters (see the module's cross-engine trig-parity
        note). Pure built-in trig — whole-stage codegen end to end."""
        from ..functions.geodesic import haversine_sql

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        geo = docs.selectExpr(
            "doc_id",
            "cast((doc_id * 131071) % 3600000 as double) / 10000e0 - 180e0 as lon",
            "cast((doc_id * 524287 + 7) % 1700000 as double) / 10000e0 - 85e0 as lat",
        )
        d = haversine_sql("2.3522", "48.8566", "lon", "lat")
        return geo.selectExpr("doc_id", f"cast(floor({d}) as long) as dist_m")

    from ..functions.geodesic import haversine_sql as _hav

    q["doc_anchor_distance_m"] = (
        anchor_dist_q,
        f"""
        WITH geo AS (
            SELECT doc_id,
                   CAST((doc_id * 131071) % 3600000 AS DOUBLE) / 10000e0 - 180e0 AS lon,
                   CAST((doc_id * 524287 + 7) % 1700000 AS DOUBLE) / 10000e0 - 85e0 AS lat
            FROM documents
        )
        SELECT doc_id,
               CAST(FLOOR({_hav("2.3522", "48.8566", "lon", "lat")}) AS BIGINT) AS dist_m
        FROM geo
        """,
    )

    def morton_q(spark, sf_dir):
        """Z-order clustering keys (functions/morton.py): doc points
        quantized to a 1024-grid, bit-interleaved, counted per 64-cell
        Morton block — the Z-ORDER layout histogram write_clustered would
        partition on. Pure integer shifts/masks, shared verbatim with the
        oracle."""
        from ..functions.morton import morton_sql

        pts = doc_points(spark, sf_dir)
        ix = f"CAST(FLOOR((x - {MINX!r}) / {W!r} * 1024) AS BIGINT)"
        iy = f"CAST(FLOOR((y - {MINY!r}) / {H!r} * 1024) AS BIGINT)"
        k = morton_sql(ix, iy)
        return (
            pts.selectExpr(f"({k} >> 6) AS morton_block")
            .groupBy("morton_block")
            .agg(F.count("*").alias("n_docs"))
        )

    from ..functions.morton import morton_sql as _morton

    _MIX = f"CAST(FLOOR((x - {MINX!r}) / {W!r} * 1024) AS BIGINT)"
    _MIY = f"CAST(FLOOR((y - {MINY!r}) / {H!r} * 1024) AS BIGINT)"

    q["morton_block_counts"] = (
        morton_q,
        f"""
        WITH p AS ({DOC_POINTS_SQL})
        SELECT ({_morton(_MIX, _MIY)} >> 6) AS morton_block,
               COUNT(*) AS n_docs
        FROM p
        GROUP BY 1
        """,
    )

    return q


# ---------------------------------------------------------------------------
# rows-only queries (no SQL oracle — custom kernels the driver checks weakly)
# ---------------------------------------------------------------------------


def build_rows_only_queries() -> dict:
    from ..operators.dedup import minhash_lsh_pairs, simhash_pairs, embedding_neardup_pairs
    from ..operators.multimodal import extract_features, make_media_fixture
    from ..operators.similarity import ann_ivf_topk
    from ..operators.textops import with_lang_id, with_quality
    from ..plans.pipeline import flagship
    from ..sources import fixtures as fx

    def _sf_of(sf_dir: str) -> float:
        try:
            return float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
        except Exception:
            return 0.001

    q: dict = {}

    def flagship_pages(spark, sf_dir):
        sf = min(_sf_of(sf_dir), 0.01)  # keep the correctness-gate run fast
        pages = fx.load_fixture(spark, "pages", sf)
        buildings = fx.load_fixture(spark, "buildings", sf)
        out = flagship(pages, buildings)
        assignment = out["owners"].select("osm_id", "tile_key")
        return out["join_rows"].join(assignment, "osm_id").select("url", "osm_id", "tile_key")

    q["flagship_pages_pipeline"] = flagship_pages

    def minhash(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # plan-layer opt-in to the hot-bucket cap (operator default is None so
        # the cap is never silent)
        return minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10_000)

    q["dedup_minhash_lsh"] = minhash

    def simhash_q(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return simhash_pairs(docs, max_hamming=8)

    q["dedup_simhash"] = simhash_q

    def ann_ivf(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ann_ivf_topk(emb, queries, k=10).select("query_id", "rank", "vec_id")

    q["ann_ivf_topk"] = ann_ivf

    def ann_ivf_pq(spark, sf_dir):
        """IVF + product-quantized ADC scan + exact rerank (similarity.py):
        the probe scan ships m_sub-byte codes instead of float vectors.
        Deterministic end-to-end → golden oracle; recall gates ride
        tests/test_operators.py (1.00 vs IVF-flat at the same pruning)."""
        from ..operators.similarity import ann_ivf_pq_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ann_ivf_pq_topk(emb, queries, k=10).select("query_id", "rank", "vec_id")

    q["ann_ivf_pq_topk"] = ann_ivf_pq

    def dsir_select_q(spark, sf_dir):
        """DSIR importance-resampling data selection (Xie et al. 2023,
        operators/dsir.py): top-50 non-English documents whose hashed-n-gram
        distribution is most English-target-like. Featurization is md5-bucket
        (SQL-restatable); the importance log-weights are float ln, so the
        oracle is a golden (cross-engine libm last-ulp differences make a SQL
        value hash flaky); exact semantics ride the plain-Python reference
        parity pytest (TestDsirSelect)."""
        from ..operators.dsir import dsir_select

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = dsir_select(docs, F.col("lang") == "en", k=50)
        return out.select("rank", "doc_id", F.round("log_weight", 6).alias("log_weight"))

    q["dsir_select"] = dsir_select_q

    def bpe_merges_q(spark, sf_dir):
        """Distributed BPE vocabulary learning (Sennrich et al. 2016,
        operators/bpe.py): 12 merge rules over the documents corpus. The
        merge order is inherently sequential (each rule conditions on all
        prior rewrites) so no ANSI-SQL statement exists → golden oracle;
        exact-semantics parity vs the classic Python algorithm rides
        tests/test_operators.py::TestLearnBpe."""
        from ..operators.bpe import learn_bpe

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return learn_bpe(docs, num_merges=12)

    q["bpe_merges"] = bpe_merges_q

    def semdedup_q(spark, sf_dir):
        """SemDeDup (Abbas et al. 2023): k-means + intra-cluster greedy cosine
        dedup keeping the lowest-centroid-similarity example. Same planted
        near-dup fixture as dedup_embedding_cosine (perturbed copies of the
        first 25 vectors at cosine ≈0.9998) so the removal path is exercised:
        exactly one of each planted pair survives. k-means assignment is not
        ANSI-SQL-statable → golden oracle; the keep-rule semantics ride the
        pytest parity gate against a plain-Python reference."""
        from ..operators.similarity import semdedup

        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") < 500)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        )
        pert = emb.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.concat(
                F.array(F.element_at("embedding", 1) * F.lit(1.02)),
                F.slice("embedding", 2, F.size("embedding") - 1),
            ).alias("embedding"),
        )
        out = semdedup(emb.unionByName(pert), threshold=0.9, n_clusters=16)
        return out.select(
            "vec_id", "list_id", F.round("cent_sim", 6).alias("cent_sim"), "is_kept"
        )

    q["semdedup"] = semdedup_q

    def langid_ngram(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return with_lang_id(docs).select("doc_id", "predicted_lang")

    q["lang_id_ngram"] = langid_ngram

    def quality(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return with_quality(docs).select(
            "doc_id", "n_tokens", "stopword_ratio", "alpha_ratio", "mean_word_len"
        )

    q["quality_features"] = quality

    def multimodal(spark, sf_dir):
        media = make_media_fixture(spark, 64)
        # serialize the float-array feature column (fixture features are exact
        # 4-dp fractions) so the driver's pandas canonicalizer can sort/hash it
        return extract_features(media).select(
            "media_id",
            "kind",
            "n_bytes",
            F.array_join(
                F.transform("features", lambda x: F.format_number(x, 4)), ","
            ).alias("features"),
        )

    q["multimodal_features"] = multimodal

    def multimodal_resize(spark, sf_dir):
        """Image resize stage (stub codec + REAL nearest-neighbor kernel,
        multimodal.resize_images). Binary payloads hash to md5 strings so the
        driver canonicalizer can sort/compare them."""
        from ..operators.multimodal import make_media_fixture, resize_images

        media = make_media_fixture(spark, 64)
        return resize_images(media, 16, 12).select(
            "media_id", "width", "height", F.md5("payload").alias("payload_md5")
        )

    q["multimodal_resize"] = multimodal_resize

    def simplify_rings(spark, sf_dir):
        """LOD vertex simplification (functions/simplify.py): building
        rings deterministically over-noded (3 interior vertices per edge,
        0.2-unit perpendicular sine noise — the redundant-vertex OSM-way
        shape), then RDP at eps=0.5 recovers a near-minimal ring. Golden
        pins per-ring vertex counts and an integer fingerprint of every
        simplified coordinate (JVM-side higher-order aggregate — the
        Arrow stage returns real rings, the fingerprint is plan-level)."""
        from ..functions.simplify import simplify_buildings

        sf = min(_sf_of(sf_dir), 0.01)
        blds = fx.load_fixture(spark, "buildings", sf).filter(
            F.col("layer") == "buildings"
        )
        out = simplify_buildings(blds, eps=0.5, densify=(3, 0.2))
        coord_fp = F.aggregate(
            "ring",
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + F.floor(p[0] * 1000 + 0.5).cast("long")
            + 3 * F.floor(p[1] * 1000 + 0.5).cast("long"),
        )
        return out.select(
            "osm_id",
            F.col("ring_idx").cast("long").alias("ring_idx"),
            "ring_type",
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_after").cast("long").alias("n_after"),
            coord_fp.alias("coord_fp"),
        )

    q["simplify_rings"] = simplify_rings

    def mvt_ingest(spark, sf_dir):
        """Checked-in .pbf fixture tile → buildings rows (sources/mvt.py); the
        wire format has no SQL oracle, so correctness rides the round-trip +
        flagship-join pytests (tests/test_mvt.py)."""
        import os

        from ..sources.mvt import mvt_tiles_to_buildings, read_pbf_dir

        fixture = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "tests", "fixtures", "mvt",
        )
        tiles = read_pbf_dir(spark, fixture)
        out = mvt_tiles_to_buildings(tiles, layer="buildings")
        # absent properties surface as -1 sentinels (not NULL/NaN): NaN breaks
        # value-equality in the golden-oracle compare (NaN != NaN)
        return out.select(
            "osm_id", "layer", "tile_x", "tile_y",
            F.size("geometry").alias("n_rings"),
            F.array_join("ring_types", ",").alias("ring_types"),
            F.coalesce("height", F.lit(-1.0)).alias("height"),
            F.coalesce("levels", F.lit(-1.0)).alias("levels"),
        )

    q["mvt_ingest"] = mvt_ingest

    def build3d_tiles(spark, sf_dir):
        from ..functions.params import with_building_params
        from ..operators.build3d import build_tiles_3d
        from ..operators.cells import building_cells
        from ..operators.ownership import owner_tiles

        sf = min(_sf_of(sf_dir), 0.01)
        blds = fx.load_fixture(spark, "buildings", sf).filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
        assigned = with_building_params(blds).join(owners, "osm_id")
        return build_tiles_3d(assigned).select(
            "tile_key", "batch_length", "n_vertices"
        )

    q["build3d_tiles"] = build3d_tiles

    def labels(spark, sf_dir):
        from ..functions.params import with_building_params
        from ..operators.build3d import building_labels

        sf = min(_sf_of(sf_dir), 0.01)
        blds = fx.load_fixture(spark, "buildings", sf).filter(F.col("layer") == "buildings")
        return building_labels(with_building_params(blds))

    q["building_labels"] = labels

    def _image_decode_stats(media):
        """Shared body of the *_decode_stats gate queries: run every payload
        through decode_image_real inside one Arrow stage, emit per-image
        dimensions + integer channel sums. The codecs are deterministic
        integer/float64 math, so any decoder regression breaks the golden
        value hash."""
        import pandas as _pd

        from ..operators.multimodal import decode_image_real

        def _stats(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                rows = {"media_id": [], "width": [], "height": [],
                        "r_sum": [], "g_sum": [], "b_sum": []}
                for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                    img = decode_image_real(bytes(payload))
                    rows["media_id"].append(int(mid))
                    rows["height"].append(int(img.shape[0]))
                    rows["width"].append(int(img.shape[1]))
                    s = img.astype("int64").sum(axis=(0, 1))
                    rows["r_sum"].append(int(s[0]))
                    rows["g_sum"].append(int(s[1]))
                    rows["b_sum"].append(int(s[2]))
                yield _pd.DataFrame(rows)

        return media.select("media_id", "payload").mapInPandas(
            _stats,
            schema="media_id long, width int, height int, r_sum long, g_sum long, b_sum long",
        )

    def png_decode_stats(spark, sf_dir):
        """Round-4: REAL PNG decode in the driver gate — the png media fixture
        (real bitstreams) through decode_image_real (zlib + unfilter)."""
        from ..operators.multimodal import make_png_media_fixture

        return _image_decode_stats(make_png_media_fixture(spark, 16))

    q["png_decode_stats"] = png_decode_stats

    def jpeg_decode_stats(spark, sf_dir):
        """Round-5: REAL baseline-JPEG decode in the driver gate — the jpeg
        media fixture (real JFIF bitstreams from the repo's own encoder,
        mixed 4:4:4/4:2:0 + quality levels) through decode_image_real
        (functions/jpeg.py: from-scratch Huffman + dequant + IDCT + chroma
        upsample)."""
        from ..operators.multimodal import make_jpeg_media_fixture

        return _image_decode_stats(make_jpeg_media_fixture(spark, 16))

    q["jpeg_decode_stats"] = jpeg_decode_stats

    def webp_decode_stats(spark, sf_dir):
        """Round-5: REAL lossless-WebP (VP8L) decode in the driver gate — the
        webp media fixture (real VP8L bitstreams from the repo's own encoder,
        rotating through subtract-green / color cache / dist-1 runs / bundled
        palette) through decode_image_real (functions/webp.py: from-scratch
        prefix codes + transforms + LZ77)."""
        from ..operators.multimodal import make_webp_media_fixture

        return _image_decode_stats(make_webp_media_fixture(spark))

    q["webp_decode_stats"] = webp_decode_stats

    def quantized_tile_stats(spark, sf_dir):
        """Round-4: the KHR_mesh_quantization sink end-to-end in the driver
        gate — build the 3D tiles, pack each as a quantized GLB, report
        (tile_key, batch_length, glb_bytes, glb_md5). The GLB bytes are fully
        deterministic (struct packing, no zlib), so the md5 golden pins the
        whole quantize path: weld -> uint16 grid -> int8 normals -> GLB
        layout. Distributed: the pack runs where the tile rows sit."""
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from ..functions.params import with_building_params
        from ..operators.build3d import build_tiles_3d
        from ..operators.cells import building_cells
        from ..operators.ownership import owner_tiles
        from ..sinks.b3dm import pack_glb

        sf = min(_sf_of(sf_dir), 0.01)
        blds = fx.load_fixture(spark, "buildings", sf).filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
        assigned = with_building_params(blds).join(owners, "osm_id")
        tiles = build_tiles_3d(assigned).select(
            "tile_key", "batch_length", "position", "normal", "uv", "batch_id")

        def _pack(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                out = {"tile_key": [], "batch_length": [], "glb_bytes": [], "glb_md5": []}
                for _, r in pdf.iterrows():
                    glb = pack_glb(
                        _np.asarray(r["position"]), _np.asarray(r["normal"]),
                        _np.asarray(r["uv"]), _np.asarray(r["batch_id"]),
                        quantize=True,
                    )
                    out["tile_key"].append(r["tile_key"])
                    out["batch_length"].append(int(r["batch_length"]))
                    out["glb_bytes"].append(len(glb))
                    out["glb_md5"].append(_hashlib.md5(glb).hexdigest())
                yield _pd.DataFrame(out)

        return tiles.mapInPandas(
            _pack,
            schema="tile_key string, batch_length long, glb_bytes long, glb_md5 string",
        )

    q["quantized_tile_stats"] = quantized_tile_stats

    def doc_fingerprint(spark, sf_dir):
        """Rolling-hash document fingerprint (min of windowed polynomial hashes
        — the winnowing family): one Arrow stage, no shuffle; the fingerprint
        is a cheap near-dup prefilter key at corpus scale."""
        from ..operators.textops import with_fingerprint

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return with_fingerprint(docs).select("doc_id", "fingerprint")

    q["doc_fingerprint"] = doc_fingerprint

    def s2_counts(spark, sf_dir):
        """Doc points bucketed by from-scratch S2 cells (Hilbert curve on
        cube faces, functions/s2.py): level-16 assignment via one Arrow
        stage, level-12 ancestor by pure bit math (no second projection),
        one groupBy. No SQL engine can state the Hilbert id, so the oracle
        is a pinned golden; semantics ride tests/test_s2.py's property
        suite (bijectivity, curve adjacency, parent-prefix containment)."""
        from ..functions import s2

        pts = doc_points(spark, sf_dir)
        lon = m.lon_col_from_merc(F.col("x"))
        lat = m.lat_col_from_merc(F.col("y"))
        d = pts.select(
            "doc_id", s2.s2_cell_col(lon, lat, 16).alias("cell16")
        ).withColumn("cell12", s2.s2_parent_col(F.col("cell16"), 12))
        return d.groupBy("cell12", "cell16").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )

    q["s2_cell_counts"] = s2_counts

    return q


# ---------------------------------------------------------------------------
# golden-table oracles for the deterministic rows-only queries
# ---------------------------------------------------------------------------

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "golden"
)

# Queries whose kernels have no ANSI-SQL formulation but are fully deterministic
# (seeded platform-stable hashing, numpy kernels, fixed fixtures). Their oracle
# is a pinned golden parquet regenerated by scripts/make_goldens.py; rows are
# tagged with `lineitem_n` (the sf's lineitem row count — the one selector a
# DuckDB oracle can recover from its pre-registered views) because e.g. the
# documents table holds 500 rows with DIFFERENT content at sf0.001 and sf0.01.
# The golden pins determinism + regressions; semantic correctness rides pytest
# (planted-pair dedup tests, IVF recall gates, MVT round-trip, component oracles).
GOLDEN_ORACLE_QUERIES = [
    "semdedup",
    "bpe_merges",
    "dsir_select",
    "png_decode_stats",
    "jpeg_decode_stats",
    "webp_decode_stats",
    "quantized_tile_stats",
    "flagship_pages_pipeline",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_ivf_topk",
    "lang_id_ngram",
    "quality_features",
    "multimodal_features",
    "mvt_ingest",
    "build3d_tiles",
    "building_labels",
    "doc_fingerprint",
    "s2_cell_counts",
    "ann_ivf_pq_topk",
    "multimodal_resize",
    "simplify_rings",
]


def build_golden_oracles() -> dict[str, str]:
    """Name → DuckDB SQL reading the pinned golden for the CURRENT sf. Goldens
    carry rows only for the sfs scripts/make_goldens.py generated (sandbox:
    0.001/0.01/0.1); running the contract at any other sf selects zero golden
    rows and fails the row-count compare — regenerate the goldens with
    SPARK_GRAFT_GOLDEN_SF_DIRS extended before running at a new scale."""
    return {
        name: (
            f"SELECT * EXCLUDE (lineitem_n) "
            f"FROM read_parquet('{GOLDEN_DIR}/{name}.parquet') "
            f"WHERE lineitem_n = (SELECT COUNT(*) FROM lineitem)"
        )
        for name in GOLDEN_ORACLE_QUERIES
        if os.path.exists(os.path.join(GOLDEN_DIR, f"{name}.parquet"))
    }

