"""Slowly-changing-dimension (SCD type 2) build from an event stream.

Classic warehouse maintenance: given per-key attribute observations over
time, emit one row per ATTRIBUTE EPISODE — (key, attr, valid_from,
valid_to) — suppressing no-op observations (same attr as the previous one),
with the final episode open-ended. The reference pipeline's analog is
batch-versioned tile ownership (src-style batchId supersession); this is
the general keyed-history operator a web-corpus pipeline needs for e.g.
per-domain robots/quality state over crawl snapshots.

Plan shape: two analytic windows over the SAME (key) partitioning —
Catalyst plans one Exchange on key and two in-partition sorts; nothing
else shuffles. At 10^12 events the only hazard is a hot key (one domain
with billions of observations); the window sort is per-key and spills,
and AQE skew handling does not apply to windows — so the operator keeps
the partitioning single-key deliberately and documents that hot keys
should be pre-aggregated (dedup consecutive per micro-batch) upstream.

Determinism: ties on ts are broken by `tiebreak` (a unique column), so the
episode sequence — and therefore the whole output — is reproducible, which
is what lets an ANSI LAG/LEAD statement be the bit-exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# open-ended episodes end at the epoch of 10000-01-01T00:00:00Z rather than
# NULL (one past the max year-9999 second — do NOT convert it to a datetime
# column; year 10000 overflows both engines' timestamp types):
# NULL/NaN poisons cross-engine compares (pandas promotes to float), and a
# sentinel keeps valid_to a plain BIGINT on both engines.
OPEN_END_EPOCH = 253402300800


def scd2_from_events(events: DataFrame) -> DataFrame:
    """(user_id, event_type, ts_epoch, event_id) observations → SCD2 episode
    table (user_id, event_type, valid_from, valid_to, is_current).

    valid_from = first observation of a run of equal attrs; valid_to = the
    next run's start (exclusive) or OPEN_END_EPOCH; is_current ∈ {0, 1} as
    BIGINT (not boolean — keeps the driver's value hash engine-agnostic).
    """
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    changes = (
        events.select("user_id", "event_type", "ts_epoch", "event_id")
        .withColumn("_prev", F.lag("event_type").over(w))
        .withColumn("_rn", F.row_number().over(w))
        # null-safe change test (a NULL attr opens/closes episodes like any
        # other value; consecutive NULLs collapse); _rn disambiguates "first
        # observation" from "previous attr was NULL". NULL attrs in the
        # OUTPUT break cross-engine pandas compares — oracle-checked callers
        # filter them upstream.
        .filter(
            (F.col("_rn") == 1) | ~F.col("_prev").eqNullSafe(F.col("event_type"))
        )
    )
    return (
        changes.withColumn("_next_ts", F.lead("ts_epoch").over(w))
        .select(
            F.col("user_id"),
            F.col("event_type"),
            F.col("ts_epoch").alias("valid_from"),
            F.coalesce(F.col("_next_ts"), F.lit(OPEN_END_EPOCH)).alias("valid_to"),
            F.when(F.col("_next_ts").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_current"),
        )
    )
