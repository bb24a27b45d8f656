"""Table reconciliation for 100 TB pipelines: bucket digests and snapshot diffs.

Why these exist: at web scale you cannot diff two copies of a table row by
row across systems — you exchange O(buckets) digests and only drill into
buckets that disagree. Both operators are exact, shuffle-once, and
order-independent (SUM of per-row hashes commutes), which also makes them
bit-reproducible across engines — the DuckDB oracle states the identical
integer arithmetic.

- `table_digest`: every row hashes its key columns to a 40-bit integer
  (md5 prefix — the engine-portable hash used across this repo, see
  operators/sketches.py), buckets by hash mod n_buckets, and emits
  (bucket, n_rows, digest=SUM(hash)). Two tables are equal iff all bucket
  rows match; a mismatched bucket localizes the diff to ~1/n_buckets of
  the data. One map-side-combinable groupBy — no join, no sort.

- `snapshot_diff`: CDC-style classification of two snapshots of a keyed
  table into inserted / deleted / changed via ONE full-outer join on the
  key. At scale both sides shuffle on the key once; AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_hash40(*cols: Column) -> Column:
    """Engine-portable 40-bit row hash: md5 of the '|'-joined canonical
    string forms, first 10 hex chars as an integer."""
    strs = [c.cast("string") for c in cols]
    return F.conv(F.substring(F.md5(F.concat_ws("|", *strs)), 1, 10), 16, 10).cast(
        "long"
    )


# digest buckets: the default of table_digest and the buckets of its oracle
N_BUCKETS = 64


def table_digest(df: DataFrame, key_cols: list[str], n_buckets: int = N_BUCKETS) -> DataFrame:
    """(bucket, n_rows, digest) — order-independent bucket digests."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    h = row_hash40(*[F.col(c) for c in key_cols])
    return (
        df.select(h.alias("h"))
        .groupBy((F.col("h") % n_buckets).alias("bucket"))
        .agg(F.count("*").alias("n_rows"), F.sum("h").alias("digest"))
    )


def digest_oracle_sql(key_exprs: list[str], table: str) -> str:
    """The identical digest in DuckDB SQL (SUM of BIGINT widens to HUGEINT
    there — cast back)."""
    joined = " || '|' || ".join(f"CAST({e} AS VARCHAR)" for e in key_exprs)
    return f"""
    WITH hashed AS (
        SELECT ('0x' || substr(md5({joined}), 1, 10))::BIGINT AS h FROM {table}
    )
    SELECT h % {N_BUCKETS} AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS digest
    FROM hashed GROUP BY 1
    """


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, value: str
) -> DataFrame:
    """Classify rows across two snapshots keyed by `key` with comparable
    column `value` (use an integer/scaled column — NULL-free, exact).
    Returns (key, change_type, old_value, new_value) for every non-identical
    row; -1 sentinels stand in for absent sides (NaN-safe hash compares)."""
    o = old.select(F.col(key).alias("k"), F.col(value).alias("old_value"))
    n = new.select(F.col(key).alias("k"), F.col(value).alias("new_value"))
    j = o.join(n, "k", "full_outer")
    change = (
        F.when(F.col("old_value").isNull(), F.lit("inserted"))
        .when(F.col("new_value").isNull(), F.lit("deleted"))
        .when(F.col("old_value") != F.col("new_value"), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.col("k").alias(key),
            "change_type",
            F.coalesce("old_value", F.lit(-1)).alias("old_value"),
            F.coalesce("new_value", F.lit(-1)).alias("new_value"),
        )
    )


def apply_changes(
    target: DataFrame, changes: DataFrame, key: str
) -> DataFrame:
    """MERGE-style CDC apply — the write half of the snapshot_diff story:
    given the current `target` and a change feed (op, key, <value cols>),
    produce the next snapshot.

    `changes` columns: `op` ∈ {'I', 'U', 'D'} plus `key` plus the full
    value column set of `target`. Semantics are those of Iceberg/Delta
    MERGE with one action per key: D removes the key, I/U upsert the
    feed's row (I on a present key and U on an absent key both behave as
    upsert — the tolerant interpretation every CDC consumer ends up
    needing, since feeds replay). Exactly one change row per key is
    required — duplicates make "the" post-image ambiguous; this raises
    rather than picking one silently.

    Plan: one full-data anti-join of target against the (small) touched-key
    set, plus a union with the upsert rows — the target is never shuffled
    beyond the join, and at 10^12 rows the touched-key side is the
    broadcast side by construction (a CDC batch is tiny vs the table).
    """
    # ONE validation job (not three) over a persisted feed — the feed also
    # feeds two plan branches below, so the cache kills 4 recomputations.
    # NULL op / NULL key are named explicitly: three-valued logic would
    # otherwise let a NULL op slip past isin() and silently act as a
    # DELETE (its key anti-joins the target but never upserts), and a
    # NULL key would append an unkeyed row / no-op a delete.
    from .dedup import _register_persist

    # the feed is small by construction (a CDC batch vs the table); persist
    # it for the validation agg + the two plan branches, registered for
    # dedup.unpersist_all() like every other operator cache in this repo
    changes = _register_persist(changes.persist())
    stats = changes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("nk"),
        F.count(F.when(F.col(key).isNull(), 1)).alias("null_keys"),
        F.count(
            F.when(
                F.col("op").isNull() | ~F.col("op").isin("I", "U", "D"), 1
            )
        ).alias("bad_ops"),
    ).first()
    if stats.null_keys:
        raise ValueError(
            f"apply_changes: {stats.null_keys} change rows with a NULL "
            f"{key} — a keyed snapshot cannot upsert or delete NULL keys"
        )
    if stats.bad_ops:
        raise ValueError(
            f"apply_changes: {stats.bad_ops} rows with op not in I/U/D "
            "(NULL included)"
        )
    if stats.n != stats.nk:
        raise ValueError(
            f"apply_changes: {stats.n} change rows but {stats.nk} "
            "distinct keys — one change per key required (compact the "
            "feed first)"
        )
    touched = changes.select(key).distinct()
    kept = target.join(F.broadcast(touched), key, "left_anti")
    upserts = changes.filter(F.col("op") != "D").select(*target.columns)
    return kept.unionByName(upserts)
