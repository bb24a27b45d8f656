"""Structured Streaming surface.

The reference is request-driven (no streaming — SURVEY.md §2.10); the graft exposes
the streaming shapes a Common-Crawl-scale ingest needs:

- `tumbling_counts`: watermarked tumbling-window counts per key (late data dropped
  after the watermark horizon),
- `sessionize`: gap-based session windows via `F.session_window`.

Batch-equivalent semantics of `tumbling_counts` are oracle-checked against DuckDB
(time_bucket) through `__spark_entry__.queries()['events_tumbling_counts']`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: str = "value",
) -> DataFrame:
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
            "value_sum",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "20 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Sliding (hopping) windowed counts — each event lands in
    window/slide overlapping windows; same watermark semantics as
    `tumbling_counts`. Batch-equivalent oracle: a UNION of one tumbling
    bucketing per hop offset (`events_sliding_counts`)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window, slide).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
            "value_sum",
        )
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count("*").alias("n_events"), F.sum(value_col).alias("value_sum"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key_col,
            "n_events",
            "value_sum",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup on `key_cols` with BOUNDED state: Spark's
    `dropDuplicatesWithinWatermark` keeps a key only until the watermark passes
    its first-seen event time, so state size tracks the duplicate horizon, not
    the stream length — the shape an at-least-once crawl ingest needs (a
    redelivered page within the horizon dedups; unbounded `dropDuplicates`
    state would OOM a 10¹²-event stream).

    Batch equivalence (what the oracle checks): with all data in one batch,
    keeping the first row per key equals `dropDuplicates` — the watermark only
    bounds WHEN a duplicate can still be caught, not which row wins. The batch
    tiebreak orders by ts then every remaining column (the key itself is
    constant within a partition, so it can never break a tie): two rows equal
    on (key, ts) but differing elsewhere pick a deterministic winner on both
    the Spark and oracle side."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    from pyspark.sql import Window

    rest = [c for c in events.columns if c not in key_cols and c != ts_col]
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col), *[F.col(c) for c in rest])
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def enriched_tumbling_counts(
    events: DataFrame,
    dim: DataFrame,
    on: tuple[str, str] = ("user_id", "c_custkey"),
    attr_col: str = "c_nationkey",
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    value_expr: F.Column | None = None,
) -> DataFrame:
    """Stream-static enrichment join + watermarked tumbling rollup.

    The canonical streaming-ingest enrichment: each micro-batch of the event
    stream inner-joins a STATIC dimension (here: events.user_id →
    customer.c_custkey, rolled up by nation) before the windowed aggregate.
    Structured Streaming permits stream-static equi-joins before stateful
    aggs; the static side is broadcast, so the stream never shuffles for the
    join — per micro-batch the only stateful exchange is the windowed groupBy,
    and the watermark bounds its state exactly as in `tumbling_counts`.

    Works batch-or-streaming like the other shapes here (the contract oracle
    states the batch equivalence in plain SQL; streaming parity is pinned in
    tests/test_streaming.py)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    d = dim.select(F.col(on[1]).alias(on[0]), F.col(attr_col).alias("dim_attr"))
    val = value_expr if value_expr is not None else F.col("value")
    return (
        src.join(F.broadcast(d), on[0])
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("dim_attr"))
        .agg(F.count("*").alias("n"), F.sum(val).alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            "dim_attr",
            "n",
            "value_sum",
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming first-claimer ownership
# ---------------------------------------------------------------------------

OWNERSHIP_STATE_SCHEMA = "tile_key string, sx long, sy long, x long, y long"
OWNERSHIP_OUT_SCHEMA = "osm_id long, tile_key string, changed boolean"


def _ownership_fn(key, pdf_iter, state):
    """Keeps the minimum tile-order claim per osm_id across micro-batches — the
    incremental form of the ownership window (operators/ownership.py), i.e. the
    reference's SQLite `INSERT OR IGNORE` claim table
    (unique-tile-per-building.ts:29-39) as managed streaming state. The order
    key is the parsed NUMERIC seed-order tuple (x//16, y//16, x, y), never the
    key string: engine keys are unpadded ('16_1000_5'), so string comparison
    would disagree with numeric order — and even padded strings would order by
    (x, y), not by the z12-subtile walk the batch operator uses."""
    import pandas as pd

    best = tuple(state.get) if state.exists else None
    changed = False
    for pdf in pdf_iter:
        for tk in pdf["tile_key"]:
            _z, xs, ys = tk.split("_")
            x, y = int(xs), int(ys)
            order = (x // 16, y // 16, x, y)
            if best is None or order < best[1:]:
                best = (tk, *order)
                changed = True
    if best is not None:
        state.update(best)
    yield pd.DataFrame({
        "osm_id": [key[0]],
        "tile_key": [best[0] if best else None],
        "changed": [changed],
    })


def streaming_ownership(claims: DataFrame) -> DataFrame:
    """Stateful first-claimer tile ownership over a stream of (osm_id, tile_key)
    claim events via applyInPandasWithState.

    The batch ownership window needs every claim before deciding; this operator
    decides incrementally with per-key state, emitting the current owner after
    each micro-batch (`changed` marks ownership transfers). Order key = the
    numeric (x//16, y//16, x, y) tuple parsed from the tile key — identical to
    the batch `owner_tiles` window order (SURVEY.md §3.3), so feeding the
    engine's own claim stream yields the same owners as the batch operator."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return claims.groupBy("osm_id").applyInPandasWithState(
        _ownership_fn,
        outputStructType=OWNERSHIP_OUT_SCHEMA,
        stateStructType=OWNERSHIP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream (or batch-batch) time-bounded attribution join: every
    (click, purchase) pair of the same user where the purchase lands in
    [click_ts, click_ts + max_gap).

    clicks(user_id, event_id, ts) × purchases(user_id, event_id, ts, value)
    → (user_id, click_id, purchase_id, gap_s).

    This is Structured Streaming's third join shape (after stream-static in
    `enriched_tumbling_counts` and the stateful ops): a STREAM-STREAM inner
    join. Both sides get a watermark and the join carries an explicit
    event-time range condition — that pair is what lets the engine expire
    buffered rows (a click older than watermark+max_gap can never match a
    future purchase, so its state is dropped). Without the time bound the
    join state grows without limit; this function therefore refuses to be
    called without one (max_gap is required).

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
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & F.expr(f"purchase_ts < click_ts + INTERVAL {max_gap}"),
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


FREQ_OUT_SCHEMA = (
    "group string, item string, lower_count long, miss_bound long"
)
FREQ_STATE_SCHEMA = (
    "items array<string>, counts array<long>, decremented long"
)


def _frequent_items_fn(capacity: int, k: int):
    """Closure building the applyInPandasWithState function (capacity/k are
    plan-time constants; state holds one MG summary per group)."""

    def fn(key, pdf_iter, state):
        import pandas as pd

        from ..operators.sketches import mg_merge

        if state.exists:
            items, counts, decremented = state.get
            counters = dict(zip(items, (int(c) for c in counts)))
        else:
            counters, decremented = {}, 0
        for pdf in pdf_iter:
            decremented += mg_merge(
                counters, pdf["item"].dropna().value_counts(), capacity
            )
        state.update((list(counters), [int(v) for v in counters.values()],
                      int(decremented)))
        top = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        yield pd.DataFrame({
            "group": [key[0]] * len(top),
            "item": [i for i, _ in top],
            "lower_count": [c for _, c in top],
            "miss_bound": [int(decremented)] * len(top),
        })

    return fn


def streaming_frequent_items(
    items: DataFrame, capacity: int = 256, k: int = 10
) -> DataFrame:
    """Continuous per-group frequent items over a stream of (group, item)
    rows: one Misra–Gries summary per group lives in managed state and is
    merged with each micro-batch; after every batch the operator emits the
    group's current top-k with its lower-bound counts and the summary's
    exact miss bound (sum of decrement thresholds so far).

    The streaming twin of the batch `heavy_hitters` pass 1
    (operators/sketches.py) — same kernel (`mg_merge`), same guarantee:
    `lower_count` undercounts the true stream frequency by at most
    `miss_bound`, and any item whose true count exceeds `miss_bound` is
    present in the summary. Unlike the batch operator there is no exact
    recount pass (the raw stream is gone), so the bound RIDES ALONG in the
    output instead of gating an exception — the consumer decides whether
    top-k positions are separated by more than the bound.

    State per group is O(capacity) strings+longs, independent of stream
    length; groups shuffle once per micro-batch (the groupBy), which is the
    minimum for keyed state. NULL items are ignored (they cannot be ranked;
    matches the batch operator's refusal, softened here because a stream
    cannot retroactively reject)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return items.groupBy("group").applyInPandasWithState(
        _frequent_items_fn(capacity, k),
        outputStructType=FREQ_OUT_SCHEMA,
        stateStructType=FREQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def idempotent_batch_sink(out_dir: str):
    """foreachBatch writer with EXACTLY-ONCE effective semantics on top of
    Structured Streaming's at-least-once batch replay.

    Structured Streaming guarantees a failed micro-batch is re-run with the
    SAME batch_id over the SAME data; a naive append sink therefore
    duplicates rows on recovery. This sink writes each batch to its own
    deterministic partition directory (`batch_id=N`) with overwrite — a
    replay of batch N rewrites the identical files instead of appending, so
    `spark.read.parquet(out_dir)` is duplicate-free no matter how many
    times any batch was attempted. (The same pattern backs Delta/Iceberg
    `txnAppId`/`txnVersion` idempotent writes; plain parquet gets it from
    the directory layout.)

    Usage: ``stream.writeStream.foreachBatch(idempotent_batch_sink(path))``.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return write


def streaming_tile_counts(
    points: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    z: int = 16,
) -> DataFrame:
    """The flagship's geo kernel on a STREAM: ingest (ts, x, y) mercator
    points (geotagged pages as they are crawled), assign each to its z16
    tile with the same native-Column math the batch engine uses
    (functions/mercator.tile_x_col — whole-stage codegen, no Python), and
    roll up watermarked tumbling per-tile counts.

    The live-ops view of tile activity: which map tiles are receiving new
    documents right now. Batch inputs run the identical plan minus the
    watermark (batch↔streaming parity is pinned in tests)."""
    from ..functions.mercator import tile_x_col, tile_y_col

    src = points.withWatermark(ts_col, watermark) if points.isStreaming else points
    return (
        src.withColumn("tile_x", tile_x_col(F.col(x_col), z))
        .withColumn("tile_y", tile_y_col(F.col(y_col), z))
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"), "tile_x", "tile_y"
        )
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("win.start").alias("window_start"), "tile_x", "tile_y", "n_docs")
    )
