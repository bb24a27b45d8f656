"""Bucketed interval (range) join.

`w.start <= events.ts < w.end` is a non-equi predicate: naive Spark
planning gives BroadcastNestedLoopJoin (every event × every window — dies
the moment the window table stops being tiny). The scale-safe formulation
is the classic bucketed range join (as productized by Databricks' range
join optimization and Flink's interval join): quantize time into coarse
buckets, EXPLODE each window onto the buckets it covers, equi-join on the
bucket (a plain shuffled/broadcast hash join Catalyst handles well), and
re-check the exact predicate. Cost: |windows| × avg_buckets_per_window
extra rows on the small side — bounded by choosing bucket_s near the
median window length — in exchange for a hash join instead of a loop join.

Exact, so a plain non-equi SQL statement is the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucketed_range_join(
    events: DataFrame,
    windows: DataFrame,
    bucket_s: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join rows of `events` to every window with
    start_epoch <= ts_epoch < end_epoch. All three columns are epoch-second
    BIGINTs; `bucket_s` is the
    quantization (pick ~ the typical window length). Returns the full
    column set of both inputs.

    `how`: 'inner' or 'left' only. An unmatched EVENT appears once under
    'left' (events carry exactly one bucket row). Right/full outer are
    refused: the window side is exploded onto its buckets, so an unmatched
    window would surface once PER BUCKET — silently inflated counts.

    Degenerate windows (end <= start, matchable by no ts under the
    half-open predicate) are dropped before the explode — without the
    guard F.sequence would count DOWNWARD from start's bucket to end's
    and blow the stage up with garbage rows.
    """
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"how={how!r} unsupported: exploded windows make right/full "
            "outer joins emit unmatched windows once per bucket"
        )
    wb = windows.filter(F.col("end_epoch") > F.col("start_epoch")).withColumn(
        "_wbucket",
        F.explode(
            F.sequence(
                F.expr(f"start_epoch div {bucket_s}"),
                F.expr(f"(end_epoch - 1) div {bucket_s}"),
            )
        ),
    )
    eb = events.withColumn("_ebucket", F.expr(f"ts_epoch div {bucket_s}"))
    joined = eb.join(
        wb,
        [
            F.col("_ebucket") == F.col("_wbucket"),
            F.col("ts_epoch") >= F.col("start_epoch"),
            F.col("ts_epoch") < F.col("end_epoch"),
        ],
        how,
    )
    return joined.drop("_ebucket", "_wbucket")
