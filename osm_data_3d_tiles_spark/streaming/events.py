"""Structured Streaming surface.

The reference is request-driven (no streaming — SURVEY.md §2.10); the graft exposes
the streaming shapes a Common-Crawl-scale ingest needs. Each works on a batch or a
stream, and the contract oracle-checks its batch form:

- `dedup_within_watermark`: exact dedup with state bounded by the watermark
  (`events_dedup_watermark`),
- `enriched_tumbling_counts`: stream-static enrichment join, then a watermarked
  tumbling-window rollup (`events_enriched_counts`),
- `click_purchase_attribution`: time-bounded stream-stream join
  (`click_attribution`),
- `streaming_tile_counts`: watermarked tumbling per-tile counts of mercator
  points (`tile_window_counts`).

The `events_tumbling_counts`, `events_sliding_counts` and `events_sessionize`
queries state their window SQL in the contract itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on `event_id` with BOUNDED state: Spark's
    `dropDuplicatesWithinWatermark` keeps a key only until the 10-minute
    watermark on `ts` passes its first-seen event time, so state size tracks
    the duplicate horizon, not the stream length — the shape an
    at-least-once crawl ingest needs (a redelivered page within the horizon
    dedups; unbounded `dropDuplicates` state would OOM a 10¹²-event stream).

    Batch equivalence (what the oracle checks): with all data in one batch,
    keeping the first row per key equals `dropDuplicates` — the watermark only
    bounds WHEN a duplicate can still be caught, not which row wins. The batch
    tiebreak orders by ts then every remaining column (the key itself is
    constant within a partition, so it can never break a tie): two rows equal
    on (key, ts) but differing elsewhere pick a deterministic winner on both
    the Spark and oracle side."""
    if events.isStreaming:
        return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    from pyspark.sql import Window

    rest = [c for c in events.columns if c not in ("event_id", "ts")]
    w = Window.partitionBy("event_id").orderBy(F.col("ts"), *[F.col(c) for c in rest])
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def enriched_tumbling_counts(
    events: DataFrame,
    dim: DataFrame,
    value_expr: F.Column | None = None,
) -> DataFrame:
    """Stream-static enrichment join + watermarked tumbling rollup.

    The canonical streaming-ingest enrichment: each micro-batch of the event
    stream inner-joins a STATIC dimension (events.user_id →
    customer.c_custkey, rolled up by c_nationkey) before the 5-minute
    windowed aggregate, watermarked at 10 minutes.
    Structured Streaming permits stream-static equi-joins before stateful
    aggs; the static side is broadcast, so the stream never shuffles for the
    join — per micro-batch the only stateful exchange is the windowed groupBy,
    and the watermark bounds its state.

    Works batch-or-streaming like the other shapes here (the contract oracle
    states the batch equivalence in plain SQL; streaming parity is pinned in
    tests/test_streaming.py)."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    d = dim.select(F.col("c_custkey").alias("user_id"), F.col("c_nationkey").alias("dim_attr"))
    val = value_expr if value_expr is not None else F.col("value")
    return (
        src.join(F.broadcast(d), "user_id")
        .groupBy(F.window(F.col("ts"), "5 minutes").alias("win"), F.col("dim_attr"))
        .agg(F.count("*").alias("n"), F.sum(val).alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            "dim_attr",
            "n",
            "value_sum",
        )
    )


def click_purchase_attribution(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch) time-bounded attribution join: every
    (click, purchase) pair of the same user where the purchase lands in
    [click_ts, click_ts + 30 minutes).

    clicks(user_id, event_id, ts) × purchases(user_id, event_id, ts, value)
    → (user_id, click_id, purchase_id, gap_s).

    This is Structured Streaming's STREAM-STREAM inner join (the
    stream-static shape is `enriched_tumbling_counts`). Both sides get a
    watermark and the join carries an explicit event-time range condition —
    that pair is what lets the engine expire buffered rows (a click older
    than the 2-hour watermark plus the 30-minute gap can never match a
    future purchase, so its state is dropped). Without the time bound the
    join state grows without limit.

    Batch inputs take the identical plan minus the state machinery, which
    is what the contract oracle checks; streaming parity is pinned in
    tests/test_streaming.py.
    """
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", "2 hours")
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", "2 hours")
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & F.expr("purchase_ts < click_ts + INTERVAL 30 minutes"),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.expr("cast(cast(purchase_ts as timestamp) as long)")
            - F.expr("cast(cast(click_ts as timestamp) as long)")
        ).alias("gap_s"),
    )


def streaming_tile_counts(points: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """The flagship's geo kernel on a STREAM: ingest (ts, x, y) mercator
    points (geotagged pages as they are crawled), assign each to its z16
    tile with the same native-Column math the batch engine uses
    (functions/mercator.tile_x_col — whole-stage codegen, no Python), and
    roll up watermarked 5-minute tumbling per-tile counts.

    The live-ops view of tile activity: which map tiles are receiving new
    documents right now. Batch inputs run the identical plan minus the
    watermark (batch↔streaming parity is pinned in tests)."""
    from ..functions.mercator import tile_x_col, tile_y_col

    src = points.withWatermark("ts", watermark) if points.isStreaming else points
    return (
        src.withColumn("tile_x", tile_x_col(F.col("x"), 16))
        .withColumn("tile_y", tile_y_col(F.col("y"), 16))
        .groupBy(
            F.window(F.col("ts"), "5 minutes").alias("win"), "tile_x", "tile_y"
        )
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("win.start").alias("window_start"), "tile_x", "tile_y", "n_docs")
    )
