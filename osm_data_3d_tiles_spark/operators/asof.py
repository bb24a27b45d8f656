"""As-of join — match each fact row to the latest dimension snapshot ≤ its
event time.

The temporal-join workhorse (market data, rate tables, config/experiment
rollouts, crawl-policy snapshots): `events ASOF JOIN snapshots ON key,
snap.ts <= event.ts` picks, per event, the most recent snapshot. Spark has
no built-in ASOF; this is the canonical distributed formulation:

- tag both sides, UNION them, and run ONE window per key ordered by
  (ts, side): `last(value, ignorenulls=True)` over an unbounded-preceding
  frame carries each snapshot's values forward onto the fact rows that
  follow it. Equal timestamps order snapshots BEFORE facts (side 0 < 1), so
  a snapshot taken exactly at the event time applies — the `<=` semantics
  DuckDB's native ASOF JOIN also implements, which is what lets that engine
  independently state the oracle.
- cost: one shuffle of |facts| + |snapshots| on the key and a per-key sort —
  no range explosion, no per-key collect. This is the join-free shape that
  survives 100 TB: the alternative (equi-join on key + per-pair max-ts
  filter) multiplies facts × snapshots-per-key before filtering.
- facts with no preceding snapshot keep NULL dimension values (left-join
  semantics); coalesce at the caller if the sink needs NULL-free columns.

Requirement: the snapshot side must be unique per (key, ts) — with
duplicates, "the latest snapshot" is ill-defined; pre-aggregate (e.g.
groupBy(key, ts).agg(max(...))) like the contract query does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    facts: DataFrame,
    snapshots: DataFrame,
    key: str,
    value_cols: tuple[str, ...] = ("value",),
) -> DataFrame:
    """All `facts` columns plus, for each v in `value_cols`, `asof_<v>` = that
    column from the latest snapshot with snapshot.ts <= fact.ts (NULL when no
    snapshot precedes the fact)."""
    fact_cols = facts.columns
    for c in value_cols:
        if c not in snapshots.columns:
            raise ValueError(f"snapshot side lacks value column {c!r}")

    snap = snapshots.select(
        F.col(key),
        F.col("ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
        *[
            F.lit(None).cast(facts.schema[c].dataType).alias(f"_f_{c}")
            for c in fact_cols
            if c not in (key, "ts")
        ],
    )
    fact = facts.select(
        F.col(key),
        F.col("ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(snapshots.schema[c].dataType).alias(f"asof_{c}") for c in value_cols],
        *[F.col(c).alias(f"_f_{c}") for c in fact_cols if c not in (key, "ts")],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = snap.unionByName(fact).select(
        "*", *[F.last(f"asof_{c}", ignorenulls=True).over(w).alias(f"_a_{c}") for c in value_cols]
    )
    out = filled.filter(F.col("_side") == 1).select(
        F.col(key),
        F.col("ts"),
        *[F.col(f"_f_{c}").alias(c) for c in fact_cols if c not in (key, "ts")],
        *[F.col(f"_a_{c}").alias(f"asof_{c}") for c in value_cols],
    )
    # keep the caller's column order for the fact side
    return out.select(*fact_cols, *[f"asof_{c}" for c in value_cols])
