"""Deterministic corpus sampling: hash-based splits and per-host quotas.

Training pipelines never sample with `rand()` — a re-run must land every
document in the same split, on any cluster size, regardless of partitioning.
Both operators here key off content-stable hashes so the assignment is a pure
function of the row:

- ``split_by_hash``: train/val/test assignment from ``xxhash64(id) % buckets``.
  Map-only, zero shuffle — at 10^12 rows the split is free, and downstream
  readers filter on the split column with predicate pushdown.
- ``cap_per_host``: keep at most ``max_docs`` documents per host (RefinedWeb /
  CCNet-style domain-dominance control — without it a handful of mega-hosts
  swamp the corpus). One shuffle on the host key; the keep-set is the
  ``max_docs`` hash-smallest documents, so membership is again independent of
  partitioning and stable under re-runs. Hot hosts are bounded by definition:
  the window reads at most the host's rows and emits at most ``max_docs``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def split_by_hash(
    docs: DataFrame,
    val_permille: int = 10,
    test_permille: int = 10,
    seed: int = 0,
    bucket_expr: F.Column | None = None,
) -> DataFrame:
    """Assign 'train' / 'val' / 'test' deterministically from the id hash.

    ``val_permille`` / ``test_permille`` are out of 1000. ``seed`` shifts the
    hash so independent experiments draw independent splits. ``bucket_expr``
    overrides the bucket (int in [0, 1000)) for engine-portable hashing — the
    oracle contract uses a plain-arithmetic hash DuckDB computes identically;
    production keeps the default xxhash64."""
    if val_permille + test_permille > 1000:
        raise ValueError("val + test permille exceed 1000")
    bucket = (
        bucket_expr
        if bucket_expr is not None
        else F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.lit(1000))
    )
    split = (
        F.when(bucket < val_permille, F.lit("val"))
        .when(bucket < val_permille + test_permille, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.withColumn("split", split)


def cap_per_host(
    pages: DataFrame,
    max_docs: int = 1000,
    rank_expr: F.Column | None = None,
) -> DataFrame:
    """Keep the ``max_docs`` hash-smallest documents of each host.

    Hash-ranked (not ts-ranked) so the kept subset is an unbiased,
    deterministic sample of the host's pages rather than the earliest crawl
    slice; ``doc_id`` breaks hash ties exactly. ``rank_expr`` overrides the
    hash for engine-portable ranking (see ``split_by_hash``)."""
    rank = rank_expr if rank_expr is not None else F.xxhash64(F.col("doc_id"))
    w = Window.partitionBy("host").orderBy(rank, F.col("doc_id"))
    return (
        pages.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_docs)
        .drop("_rk")
    )


def exact_quantiles(
    df: DataFrame, value: str, group: str, tiebreak: str
) -> DataFrame:
    """Exact distributed discrete quantiles (median + p90) per group.

    At 100 TB `percentile_approx` is the usual answer, but training-data
    curation thresholds ("drop the shortest decile") want exact, engine-
    reproducible cut points. Discrete selection by rank avoids the
    interpolation arithmetic that differs across engines: ONE shuffle
    (the window sort on (value, tiebreak)), then a map-side-combinable
    conditional aggregation picks out rank ceil(n/2) and ceil(0.9n).
    Returns (group, n, median, p90) with the value column's exact values.
    """
    w_rank = Window.partitionBy(group).orderBy(value, tiebreak)
    w_all = Window.partitionBy(group)
    ranked = (
        df.select(group, value, tiebreak)
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_all))
        .withColumn("m_rank", F.expr("(n + 1) div 2"))
        .withColumn("p90_rank", F.expr("(9 * n + 9) div 10"))
    )
    return ranked.groupBy(group).agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.col("m_rank"), F.col(value))).alias("median"),
        F.max(F.when(F.col("rn") == F.col("p90_rank"), F.col(value))).alias("p90"),
    )


def pps_systematic_sample(
    df: DataFrame,
    weight: str,
    order: str,
    step: int,
) -> DataFrame:
    """Systematic probability-proportional-to-size sample: walk the corpus
    in `order`, accumulate integer `weight`, keep every row whose running
    total crosses a multiple of `step` — each row's selection probability
    is ~weight/step, with AT MOST one selection per row and perfect spread
    across the corpus (the classic systematic PPS design, e.g. token-budget
    subsampling: step = total_tokens / sample_size).

    Integer cumulative sums + `div` crossings only — bit-exact across
    engines, so the whole sampling DESIGN is oracle-checkable (unlike
    u^(1/w) reservoir designs whose float keys have no cross-engine twin).
    `order` MUST be a unique key (doc_id, url): tied order values make the
    ROWS-frame cumsum — and therefore the selected set — tie-order-
    dependent. NULL/negative weights raise per row.

    One window shuffle (the global order). At 10^12 rows a single global
    ordering is the known cost of systematic designs — shard it by running
    the sampler per partition-key stratum (compose with split_by_hash /
    cap_per_host) when one total order is too hot.
    """
    if step < 1:
        raise ValueError(f"step must be >= 1, got {step}")
    # `order` must be a UNIQUE key: a ROWS-frame cumsum over tied order
    # values is tie-order-dependent, which breaks both run-to-run
    # determinism and the oracle claim. Weights are validated per row —
    # a negative weight makes the cumsum non-monotonic (spurious
    # selections) and a NULL weight would be silently unselectable.
    checked_w = F.expr(
        f"CASE WHEN {weight} IS NULL OR {weight} < 0 THEN "
        f"raise_error(concat('pps_systematic_sample: NULL/negative weight ', "
        f"COALESCE(CAST({weight} AS STRING), 'NULL'))) "
        f"ELSE CAST({weight} AS BIGINT) END"
    )
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(checked_w).over(w)
    return (
        df.withColumn("_cum", cum)
        .filter(
            F.expr(f"_cum div {step}")
            > F.expr(f"(_cum - CAST({weight} AS BIGINT)) div {step}")
        )
        .drop("_cum")
    )


def exact_quantiles_by_value(
    df: DataFrame, value: str, group: str
) -> DataFrame:
    """Exact discrete quantiles per group via a VALUE HISTOGRAM — the
    10^12-row plan for the same answer `exact_quantiles` gives.

    `exact_quantiles` window-sorts every ROW inside each group; fine until
    a group holds billions of rows. This variant aggregates first: counts
    per (group, value) collapse the data to the distinct-value histogram
    (map-side combinable, the only full-data shuffle), then the cumulative
    walk + rank selection run over histogram cells — thousands of rows,
    not billions. The selection rule is the same discrete rank statistic:
    quantile q = the smallest value whose cumulative count reaches the
    rank, so the result is bit-identical to the sort-based operator for
    NULL-free value columns — NULL values raise (the sort-based operator
    ranks NULLs first; skipping them here would silently diverge) (both
    are exactly SQL-statable; `median`/`p90` of ties land on the same
    value with no tiebreak column needed at all — ranks fall INSIDE a
    value's run).

    Returns (group, n, median, p90).
    """
    counts = df.groupBy(group, value).agg(F.count("*").alias("_c"))
    # refuse NULL values: the sort-based operator ranks NULLs first while
    # MIN() here would skip them — the two would silently return different
    # medians. One cell per (group, NULL) makes this check nearly free.
    counts = counts.withColumn(
        value,
        F.when(
            F.col(value).isNull(),
            F.expr(
                "raise_error('exact_quantiles_by_value: NULL values in "
                f"{value}; filter them (the sort-based operator ranks "
                "NULLs first, this one would skip them)')"
            ),
        ).otherwise(F.col(value)),
    )
    w_cum = (
        Window.partitionBy(group)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group)
    cells = (
        counts.withColumn("cum", F.sum("_c").over(w_cum))
        .withColumn("n", F.sum("_c").over(w_all))
        .withColumn("m_rank", F.expr("(n + 1) div 2"))
        .withColumn("p90_rank", F.expr("(9 * n + 9) div 10"))
    )
    return cells.groupBy(group).agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= F.col("m_rank"), F.col(value))).alias("median"),
        F.min(F.when(F.col("cum") >= F.col("p90_rank"), F.col(value))).alias("p90"),
    )


def mix_domains(
    docs: DataFrame,
    target_total: int = 200,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based domain mixing: resample the corpus so domain d
    contributes ~ n_d^alpha / sum(n^alpha) of `target_total` documents — the
    exponent-smoothed mixture used by multilingual / multi-domain training
    recipes (alpha < 1 upweights small domains, alpha = 1 keeps natural
    proportions).

    Determinism + oracle exactness: with the default alpha = 0.5 the weight
    is computed as floor(sqrt(n_d · 1e12)) in BIGINT fixed point — IEEE-754
    sqrt and multiply are correctly rounded, so DuckDB states the identical
    integers and the allocation ((target_total · s_d) div S, floor
    apportionment, never exceeding target_total) is exact integer math end
    to end. (For target_total beyond ~9e6 the fixed-point scale shrinks
    automatically so the allocation product stays inside int64.) Any other
    alpha uses pow() normalized by the largest domain and is documented as
    within-engine-deterministic only. Per-domain selection keeps the
    allocation's hash-smallest documents (md5 of the id string, id
    tie-break) — an unbiased deterministic sample, same convention as
    cap_per_host.

    Plan shape: the domain table is a tiny aggregate (|domains| rows)
    broadcast back onto the corpus; the only corpus-scale work is one
    per-domain row_number window (single shuffle on source; skewed
    domains are bounded by the allocation itself).

    Returns the selected rows: (doc_id, source).
    """
    if target_total < 1:
        raise ValueError(f"target_total must be >= 1, got {target_total}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    # Fixed-point scale. 1e12 at the small target_totals the oracle pins; for
    # huge target_totals shrink it so the allocation product target_total·s_d
    # stays inside int64 for any n_d up to 1e12 docs per domain (s_d is
    # bounded by sqrt(1e12·scale) on the sqrt branch and by scale — always
    # smaller — on the normalized pow branch below).
    scale = 1e12
    while scale > 1.0 and float(target_total) * math.sqrt(1e12 * scale) > 9.0e18:
        scale /= 100.0
    n = docs.groupBy("source").agg(F.count("*").alias("n_d"))
    if alpha == 0.5:
        s_col = F.floor(F.sqrt(F.col("n_d").cast("double") * F.lit(scale))).cast(
            "long"
        )
        s = n.withColumn("s_d", s_col)
    else:
        # pow() overflows the fixed-point lift for n_d^alpha > ~9.2e6, so
        # normalize by the largest domain first: (n_d / max_n)^alpha ≤ 1 keeps
        # s_d ≤ scale while preserving the proportions exactly
        # (n_d^a / max^a) — this branch is within-engine-deterministic only
        # (documented above), so the normalization costs no oracle exactness.
        mx = n.agg(F.max("n_d").alias("mx_n"))
        s_col = F.floor(
            F.pow(
                F.col("n_d").cast("double") / F.col("mx_n").cast("double"),
                F.lit(float(alpha)),
            )
            * F.lit(scale)
        ).cast("long")
        s = n.crossJoin(F.broadcast(mx)).withColumn("s_d", s_col).drop("mx_n")
    total = s.agg(F.sum("s_d").alias("s_total"))
    tgt = (
        s.crossJoin(F.broadcast(total))
        .withColumn("tgt", F.expr(f"({target_total} * s_d) div s_total"))
        .select("source", "tgt")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("_rk", rk)
        .join(F.broadcast(tgt), "source")
        .filter(F.col("_rk") <= F.col("tgt"))
        .select("doc_id", "source")
    )
