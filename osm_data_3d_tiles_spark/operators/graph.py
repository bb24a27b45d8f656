"""Link-graph analytics: deterministic fixed-point PageRank.

A web-crawl corpus is a LINK GRAPH as much as a document set; host/page
authority (PageRank) is the classic global signal a training-data pipeline
derives from it (quality weighting, crawl prioritization, seed selection).

Spark shape (the 100 TB story): one iteration = one equi-join (ranks ⋈
edges on src) + one groupBy-sum on dst, both map-side-combinable — the same
bounded-shuffle relational loop as `operators/components.py`; out-degrees
are computed once and persisted; lineage is truncated per round with
persist/unpersist (fixed iteration count keeps plans shallow).

Exactness trick — fixed-point integer arithmetic: floating-point PageRank is
NOT reproducible across engines (double addition is non-associative, so a
partial-aggregated Spark sum and a single-threaded oracle sum can differ in
the last ulp). This operator computes in integer micro-units: ranks are
BIGINTs in units of 1/scale, the damping factor is the rational num/den
(default 17/20 = 0.85), every per-edge contribution is the exact integer
`(num·r) div (den·out_deg)`, and integer sums are order-independent — so a
plain SQL engine states the bit-identical result (the `pagerank_fixed`
contract oracle unrolls the iterations as CTEs). Truncation loses < 1
micro-unit per edge per round — at scale=1e12, noise of ~1e-12 per rank,
far below any ranking-relevant difference.

Semantics notes (all deterministic, stated so the oracle can match them):
- dangling nodes (no out-links) leak their damped mass — the "remove
  dangling mass" PageRank variant; total mass then decays slightly instead
  of being redistributed, which costs no ordering fidelity;
- self-loops are kept (a node may contribute to itself);
- ranks are NOT re-normalized between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _register_persist


def _rank_round(
    ed: DataFrame, nd: DataFrame, ranks: DataFrame, contrib_expr: F.Column, base: int
) -> DataFrame:
    """One power-iteration round: ranks ⋈ edges on src + groupBy-sum on dst +
    left join back onto the node universe. The edge join must exchange ONLY
    the ranks side — ed is persisted pre-partitioned on src (plan-pinned in
    TestIterativeEdgePlans)."""
    inbound = (
        ed.join(ranks, ed["src"] == ranks["node"])
        .select(F.col("dst").alias("node"), contrib_expr.alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("c"))
    )
    return nd.join(inbound, "node", "left").select(
        "node",
        (F.lit(base) + F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("rank_fp"),
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 5,
    damping: tuple[int, int] = (17, 20),
) -> DataFrame:
    """Fixed-point PageRank after exactly `n_iter` power iterations.

    `nodes` is the full node universe (one column `node`) — required
    explicitly because rank mass belongs to every node, not only to nodes
    that happen to appear in `edges` (`src`, `dst`). Returns (node, rank_fp)
    with rank_fp the BIGINT rank in 1e-12 units (rank_fp/1e12 ≈ probability).
    """
    num, den = damping
    if not (0 < num < den):
        raise ValueError(f"damping must be a proper fraction, got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")

    nd = nodes.select(F.col("node").cast("long").alias("node"))
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    n_nodes = nd.count()
    if n_nodes == 0:
        raise ValueError("empty node set")

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # edges annotated with out-degree once; persisted PRE-PARTITIONED on the
    # iteration join key: the cached hash layout satisfies the join's
    # required distribution, so each round exchanges only the rank side —
    # the edge table (the big side at web scale) never reshuffles after
    # round 0. Same for the node universe on its join key.
    ed = _register_persist(e.join(deg, "src").repartition("src").persist())
    nd = _register_persist(nd.repartition("node").persist())

    base = ((den - num) * 10**12) // (den * n_nodes)
    ranks = _register_persist(
        nd.withColumn("rank_fp", F.lit(10**12 // n_nodes).cast("long")).persist()
    )

    contrib_expr = F.expr(f"({num} * rank_fp) div ({den} * od)")
    for _ in range(n_iter):
        new_ranks = _rank_round(ed, nd, ranks, contrib_expr, base)
        new_ranks = _register_persist(new_ranks.persist())
        new_ranks.count()  # materialize before dropping the parent cache
        ranks.unpersist()
        ranks = new_ranks

    return ranks
