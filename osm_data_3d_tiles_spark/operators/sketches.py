"""Distributed cardinality sketches and graph motif counts.

KMV (k-minimum-values) distinct-count sketch
--------------------------------------------
The classic bottom-k estimator (Bar-Yossef et al., "Counting distinct
elements in a data stream", RANDOM 2002): hash every value into [0, 2^B),
keep the k smallest *distinct* hashes per group, and estimate
|distinct| ~= (k-1) * 2^B / h_(k)  where h_(k) is the k-th smallest hash.

Why this shape at 100 TB: the estimator needs only a bottom-k per group —
Spark computes it with one map-side-combinable `min_by`-style shuffle
(here: distinct + window-rank, both partial-aggregatable) instead of the
full distinct set, so a 10^12-row scan reduces to k rows per group before
the final exchange. The arithmetic is kept in *integers* (40-bit hashes,
`div` truncation) so the estimate is bit-identical across engines — the
same fixed-point trick the repo uses for PageRank (operators/graph.py) —
which is what lets an approximation algorithm pass an exact value-hash
correctness gate: the oracle states the same integer estimator in ANSI SQL.

Parity note (mirrors reference semantics, not code): the reference counts
distinct feature ids per tile during batch-table assembly
(/root/reference/src/batch_table.rs-style exact distinct); at web scale an
exact distinct per hot key is a shuffle bomb, so the engine offers the
sketch as the scale path with the exact count as the small-group fallback.

Triangle counting
-----------------
Standard oriented 3-clique join (node-iterator): orient every undirected
edge a<b, then triangles = E ⋈ E ⋈ E on (a,b),(b,c),(a,c). Orientation
makes each triangle appear exactly once and bounds the join fan-out by the
max *oriented* degree. Per-node counts come from exploding each found
triangle to its three corners — one extra map + groupBy, no extra join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 40-bit hash space: small enough that (k-1) * 2^40 fits comfortably in a
# BIGINT for any sane k, large enough that collisions are negligible at
# test scale (the estimator tolerates them anyway).
KMV_HASH_BITS = 40
_KMV_SPACE = 1 << KMV_HASH_BITS
# sketch size: the default of kmv_distinct and the k of its oracle
KMV_K = 64


def kmv_hash(col) -> F.Column:
    """Deterministic 40-bit integer hash shared with the DuckDB oracle:
    first 10 hex chars of md5 of the value's canonical string form.
    (Spark's xxhash64 has no DuckDB twin; md5 is bit-identical in both.)"""
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 10), 16, 10).cast(
        "long"
    )


def kmv_distinct(df: DataFrame, key: str, group: str, k: int = KMV_K) -> DataFrame:
    """Estimate distinct `key` values per `group` with a bottom-k sketch.

    Returns (group, n_kept, est) where est is the integer KMV estimate
    ((k-1) << 40) div h_(k), or the exact distinct count when the group
    holds fewer than k distinct values (n_kept < k) — the standard KMV
    small-cardinality fallback, where the sketch IS the exact set.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashes = (
        df.select(F.col(group).alias("g"), kmv_hash(key).alias("h"))
        .distinct()  # distinct hashes, partial-aggregated map-side
    )
    w = Window.partitionBy("g").orderBy("h")
    bottom = hashes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return (
        bottom.groupBy("g")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("h_k"))
        .select(
            F.col("g").alias(group),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(F.expr(f"({k - 1} * CAST({_KMV_SPACE} AS BIGINT)) div h_k"))
            .cast("long")
            .alias("est"),
        )
    )


def kmv_oracle_sql(key_expr: str, group: str, table: str) -> str:
    """ANSI-SQL statement of the same integer estimator for DuckDB."""
    return f"""
    WITH hashes AS (
        SELECT DISTINCT {group} AS g,
               ('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 10))::BIGINT AS h
        FROM {table}
    ),
    ranked AS (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
        FROM hashes
    ),
    bottom AS (
        SELECT g, COUNT(*) AS n_kept, MAX(h) AS h_k
        FROM ranked WHERE rk <= {KMV_K} GROUP BY g
    )
    SELECT g AS {group},
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(CASE WHEN n_kept < {KMV_K} THEN n_kept
                     ELSE ({KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT)) // h_k
                END AS BIGINT) AS est
    FROM bottom
    """


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a (possibly
    directed / duplicated / self-looped) edge list.

    Plan shape: symmetrize+orient+distinct collapses the edge list once
    (one shuffle on the edge pair), then two self-joins on single node
    keys. At 100 TB the joins shuffle on node id — skew from hub nodes is
    the known hazard; orientation (a<b) already caps fan-out by oriented
    degree, and AQE skew-join handles the rest (session.py enables AQE).
    Returns (node, n_triangles) for every node in >=1 triangle.
    """
    e = edges.select(
        F.least(F.col("src"), F.col("dst")).alias("a"),
        F.greatest(F.col("src"), F.col("dst")).alias("b"),
    ).filter(F.col("a") < F.col("b")).distinct()

    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").cast("long").alias("n_triangles"))


def mg_merge(counters: dict, value_counts, capacity: int) -> int:
    """Merge a batch's value_counts into a Misra–Gries counter dict IN
    PLACE, flushing (batched decrement) if the dict exceeds `capacity`.
    Returns the flush threshold t added to the summary's miss bound (0 if
    no flush fired). Shared by the candidate stage below and the per-group
    pass of `heavy_hitters_by_group`."""
    for item, n in value_counts.items():
        counters[item] = counters.get(item, 0) + int(n)
    if len(counters) <= capacity:
        return 0
    import numpy as np

    vals = np.fromiter(counters.values(), dtype="int64")
    # subtracting t from all counters removes at least the
    # (size-capacity) smallest ones; any item evicted here had
    # count <= accumulated thresholds, so sum(t) bounds the
    # frequency of anything this summary can have missed
    t = int(np.partition(vals, len(vals) - capacity - 1)[len(vals) - capacity - 1])
    for k in list(counters):
        v = counters[k] - t
        if v > 0:
            counters[k] = v
        else:
            del counters[k]
    return t


def misra_gries_candidates(
    items: DataFrame, col: str = "item", capacity: int = 4096
) -> DataFrame:
    """Per-partition Misra–Gries frequent-items summaries (Misra & Gries
    1982; merge rule per Agarwal et al., "Mergeable Summaries", PODS 2012).

    Emits (item, lower_count, NULL, NULL) rows — at most `capacity` per input
    partition — plus ONE marker row per non-empty partition carrying the
    partition's raw row count, its NULL-item count, and its total decrement
    threshold mass T_p = sum of per-flush thresholds, so the caller gets both
    N and the EXACT candidate-miss bound in the same pass.
    Guarantee: an item missing from partition p's summary has partition
    frequency <= T_p (<= n_p/capacity), so an item missing from EVERY
    summary has global frequency <= sum_p T_p. That makes this
    the candidate-generation stage of an exact two-pass top-k: at 10^12 rows
    the first pass reduces each scan partition to `capacity` rows map-side
    (no shuffle at all), and only candidates are ever hash-aggregated.

    Batched decrement: after merging an Arrow batch's value_counts into the
    running dict, if the dict exceeds capacity, subtract the (size-capacity)-th
    smallest count from every counter and drop the non-positives — one
    vectorized numpy pass per batch instead of per-item decrements.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")

    import pandas as pd

    out_schema = (
        f"{col} string, lower_count long, n_rows long, "
        "n_nulls long, decremented long"
    )

    def summarize(batches):
        counters: dict = {}
        n_rows = 0
        n_nulls = 0
        decremented = 0
        for pdf in batches:
            n_rows += len(pdf)
            n_nulls += int(pdf[col].isna().sum())
            decremented += mg_merge(counters, pdf[col].value_counts(), capacity)
        if n_rows:
            yield pd.DataFrame(
                {col: list(counters.keys()) + [None],
                 "lower_count": list(counters.values()) + [None],
                 "n_rows": [None] * len(counters) + [n_rows],
                 "n_nulls": [None] * len(counters) + [n_nulls],
                 "decremented": [None] * len(counters) + [decremented]}
            )

    return items.select(F.col(col).cast("string").alias(col)).mapInPandas(
        summarize, schema=out_schema
    )


def heavy_hitters(
    items: DataFrame, col: str = "item", k: int = 25, capacity: int = 4096
) -> DataFrame:
    """EXACT top-k most frequent items via candidate generation + recount.

    Two passes over the data, zero wide shuffles on the raw item stream:
      1. map-side Misra–Gries per partition -> <=capacity candidates each
         (misra_gries_candidates); distinct candidate ids are broadcast.
      2. semi-join the raw stream to the candidates, exact groupBy count,
         global top-k with a deterministic (count DESC, item ASC) tiebreak.

    Exactness: pass 1 provably retains every item with frequency greater
    than the summed decrement mass sum_p T_p (<= N/capacity, usually far
    smaller), so the result is the exact top-k whenever the k-th count
    clears that bar; when fewer than k items survive, it is exact iff no
    decrement ever fired (the summaries then hold the whole domain).
    Violations raise with the measured margin rather than silently
    returning a maybe-wrong list (the repo's no-silent-caps rule).

    The whole computation is therefore oracle-statable as plain
    GROUP BY / ORDER BY / LIMIT SQL even though the scale path never
    aggregates the full item domain.
    """
    if k < 1:
        raise ValueError(f"heavy_hitters: k must be >= 1, got {k}")
    items = items.select(F.col(col).cast("string").alias(col))
    summ = misra_gries_candidates(items, col, capacity).persist()
    try:
        marker = summ.filter(F.col(col).isNull()).agg(
            F.sum("decremented"), F.sum("n_nulls")
        ).first()
        miss_bound = marker[0] or 0
        n_nulls = marker[1] or 0
        if n_nulls:
            # NULL never enters the counters, the candidate set, or the
            # semi-join recount — a NULL-heavy corpus would silently lose
            # its true top item vs SQL GROUP BY semantics. Refuse instead.
            raise ValueError(
                f"heavy_hitters: {n_nulls} NULL items in {col!r}; filter "
                "them out (or map NULL to a sentinel) before ranking"
            )
        cands = summ.filter(F.col(col).isNotNull()).select(col).distinct()
        counts = (
            items.join(F.broadcast(cands), col, "left_semi")
            .groupBy(col)
            .agg(F.count("*").alias("cnt"))
        )
        top = counts.orderBy(F.desc("cnt"), F.asc(col)).limit(k)
        rows = top.collect()
    finally:
        summ.unpersist()
    # full top-k: exact iff the k-th count beats anything a summary could
    # have missed; short list: exact iff nothing was ever decremented
    # (summaries then hold the entire domain)
    not_exact = (
        rows[-1]["cnt"] <= miss_bound if len(rows) == k else miss_bound > 0
    )
    if not_exact:
        kth = rows[-1]["cnt"] if rows else 0
        raise ValueError(
            f"heavy_hitters not provably exact: k-th count {kth} (of "
            f"{len(rows)} rows) vs candidate-miss bound {miss_bound} "
            f"(capacity {capacity}); raise capacity"
        )
    return items.sparkSession.createDataFrame(rows, top.schema)


def heavy_hitters_by_group(
    items: DataFrame,
    col: str = "item",
    k: int = 10,
    capacity: int = 4096,
    max_groups: int = 100_000,
) -> DataFrame:
    """EXACT top-k most frequent items PER GROUP ("top tokens per
    language") — the grouped form of `heavy_hitters`, same two-pass
    design generalized over a group key:

      1. map-side: ONE Misra–Gries summary per group per partition
         (mapInPandas keeps a dict-of-dicts across the partition's
         batches) plus a per-(partition, group) marker carrying n_rows,
         n_nulls and the decrement mass T_{p,g};
      2. distinct (group, item) candidates broadcast-semi-join the raw
         stream; exact counts per (group, item); per-group top-k via a
         window over the CANDIDATE counts only (bounded rows, never the
         raw domain).

    Exactness per group: k-th count > sum_p T_{p,g}; a short list (< k
    items) requires zero decrements in that group. Any violating group is
    named in the raised error (no silent partial results). Returns
    (group, item, cnt, rank) with rank 1..k, tiebreak (cnt DESC, item).

    Driver state is O(k × |groups|) (the exactness certificate collects
    per-group markers + the top-k rows). That is fine for lang-like group
    dimensions; a high-cardinality group key would silently balloon the
    driver, so group counts past `max_groups` REFUSE loudly (same style
    as the NULL guards) — for per-host/per-url shapes, pre-bucket the
    group key or use a windowed exact count instead.
    """
    if k < 1:
        raise ValueError(f"heavy_hitters_by_group: k must be >= 1, got {k}")
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")

    import pandas as pd

    items = items.select(
        F.col("group").cast("string").alias("group"),
        F.col(col).cast("string").alias(col),
    )
    out_schema = (
        f"group string, {col} string, lower_count long, "
        "n_nulls long, decremented long"
    )

    def summarize(batches):
        per_group: dict = {}
        nulls: dict = {}
        dec: dict = {}
        null_group_rows = 0
        for pdf in batches:
            gna = pdf["group"].isna()
            null_group_rows += int(gna.sum())
            pdf = pdf.loc[~gna]
            na = pdf[col].isna()
            for g, n in pdf.loc[na, "group"].value_counts().items():
                nulls[g] = nulls.get(g, 0) + int(n)
            for g, sub in pdf.loc[~na].groupby("group", sort=False):
                counters = per_group.setdefault(g, {})
                dec[g] = dec.get(g, 0) + mg_merge(
                    counters, sub[col].value_counts(), capacity
                )
        rows = {"group": [], col: [], "lower_count": [],
                "n_nulls": [], "decremented": []}
        if null_group_rows:
            # surfaced as a NULL-group marker so the driver raises loudly
            # (pandas groupby drops NaN keys; without this a NULL group
            # would silently vanish instead of failing like NULL items do)
            rows["group"].append(None); rows[col].append(None)
            rows["lower_count"].append(None)
            rows["n_nulls"].append(null_group_rows)
            rows["decremented"].append(None)
        seen = set(per_group) | set(nulls) | set(dec)
        for g in seen:
            for item, c in per_group.get(g, {}).items():
                rows["group"].append(g); rows[col].append(item)
                rows["lower_count"].append(c)
                rows["n_nulls"].append(None); rows["decremented"].append(None)
            rows["group"].append(g); rows[col].append(None)
            rows["lower_count"].append(None)
            rows["n_nulls"].append(nulls.get(g, 0))
            rows["decremented"].append(dec.get(g, 0))
        if rows["group"]:
            yield pd.DataFrame(rows)

    summ = items.mapInPandas(summarize, schema=out_schema).persist()
    try:
        n_groups = summ.filter(F.col(col).isNull()).select("group").distinct().count()
        if n_groups > max_groups:
            raise ValueError(
                f"heavy_hitters_by_group: {n_groups} distinct groups exceeds "
                f"max_groups={max_groups}; the exactness certificate holds "
                f"O(k x groups) driver state — pre-bucket the group key or "
                f"raise max_groups explicitly if the driver can take it"
            )
        meta = {
            r["group"]: (r.miss_bound or 0, r.n_nulls or 0)
            for r in summ.filter(F.col(col).isNull())
            .groupBy("group")
            .agg(
                F.sum("decremented").alias("miss_bound"),
                F.sum("n_nulls").alias("n_nulls"),
            )
            .collect()
        }
        if None in meta:
            raise ValueError(
                f"heavy_hitters_by_group: {meta[None][1]} rows with a NULL "
                f"group key; filter or sentinel-map them before ranking"
            )
        bad_nulls = {g for g, (_mb, nn) in meta.items() if nn}
        if bad_nulls:
            raise ValueError(
                f"heavy_hitters_by_group: NULL items in groups "
                f"{sorted(bad_nulls)[:5]}; filter them out before ranking"
            )
        cands = summ.filter(F.col(col).isNotNull()).select("group", col).distinct()
        counts = (
            items.join(F.broadcast(cands), ["group", col], "left_semi")
            .groupBy("group", col)
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("group").orderBy(F.desc("cnt"), F.asc(col))
        top = (
            counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        rows = top.collect()
    finally:
        summ.unpersist()

    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r["group"], []).append(r)
    not_exact = []
    # iterate the MARKER groups, not the result groups: a group whose
    # candidates were all decremented away has no result rows at all and
    # must still fail the certificate (same trap the ungrouped operator's
    # review fix covers)
    for g, (mb, _nn) in meta.items():
        rs = by_group.get(g, [])
        kth = min(r["cnt"] for r in rs) if len(rs) == k else 0
        if (len(rs) == k and kth <= mb) or (len(rs) < k and mb > 0):
            not_exact.append((g, kth, mb))
    if not_exact:
        raise ValueError(
            f"heavy_hitters_by_group not provably exact for groups "
            f"{not_exact[:5]} (capacity {capacity}); raise capacity"
        )
    return items.sparkSession.createDataFrame(rows, top.schema)
