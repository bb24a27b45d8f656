"""Grid-bucketed eps-connectivity spatial clustering (single-linkage).

Clusters points so that any two points within `eps` of each other land in
the same cluster (the transitive closure of the eps-neighbor relation —
DBSCAN with min_pts=1, i.e. no noise class). The webtext use: collapse
pages geotagged to "the same place" (venue dedup, POI conflation) exactly,
without a quadratic all-pairs distance join.

Plan shape, built for the 10^12-row case:
  1. bin points into an eps-sized grid (two FLOORs — whole-stage codegen);
  2. candidate pairs via ONE equi-join: the left side keyed by its own
     cell, the right side exploded onto its 3x3 cell neighborhood. Any
     pair within eps differs by <=1 cell per axis, so the join is lossless;
     each unordered pair is produced exactly once (one point has one cell,
     the other covers it once) — no distinct shuffle needed.
  3. exact distance refine (dx*dx + dy*dy <= eps*eps, plain doubles) —
     Catalyst evaluates it inside the join, so false candidates die before
     the shuffle that follows;
  4. connected components (operators/components.py) over the surviving
     edge list; singletons rejoin via a left join at the end.

Hot-cell skew (cities, spammy geotags) concentrates in step 2's join keys;
the 3x3 explode multiplies the small side 9x but leaves the probe side
unexploded, and AQE skew-join (enabled in session.py) splits oversized
cell partitions at runtime.

The oracle states the SAME relation naively — an O(n^2) distance join plus
a recursive-CTE closure — which is exactly why the operator itself must
not: the contract pins the grid plan to the brute-force semantics.

Floating-point caveat: the grid prune assumes a pair within eps never
lands more than one cell apart. floor(x/eps) is computed in doubles, so a
pair whose true gap exceeds eps by <1 ulp — yet whose squared-distance
REFINE predicate still rounds to <= eps^2 — could in principle sit 2 cells
apart and be missed while the brute-force oracle keeps it. That needs the
distance AND both cell quotients to straddle rounding boundaries at once
(measure-zero; never observed across the randomized parity tests); exact
decimal quantization of the inputs removes it entirely if it ever matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components


def eps_neighbor_pairs(points: DataFrame, eps: float) -> DataFrame:
    """Edge list (a, b), a < b: unordered point pairs with euclidean
    distance <= eps. Exact (grid prune + refine), each pair emitted once."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    cx = F.floor(F.col("x") / eps)
    cy = F.floor(F.col("y") / eps)
    left = points.select(
        F.col("pid").alias("_la"), F.col("x").alias("_lx"), F.col("y").alias("_ly"),
        cx.alias("_cx"), cy.alias("_cy"),
    )
    offsets = F.array(*[
        F.struct(F.lit(i).alias("di"), F.lit(j).alias("dj"))
        for i in (-1, 0, 1) for j in (-1, 0, 1)
    ])
    right = (
        points.select(
            F.col("pid").alias("_rb"), F.col("x").alias("_rx"), F.col("y").alias("_ry"),
            cx.alias("_bx"), cy.alias("_by"),
        )
        .withColumn("_o", F.explode(offsets))
        .select(
            "_rb", "_rx", "_ry",
            (F.col("_bx") + F.col("_o.di")).alias("_cx"),
            (F.col("_by") + F.col("_o.dj")).alias("_cy"),
        )
    )
    dx = F.col("_lx") - F.col("_rx")
    dy = F.col("_ly") - F.col("_ry")
    return (
        left.join(right, ["_cx", "_cy"])
        .filter(
            (F.col("_la") < F.col("_rb"))
            & (dx * dx + dy * dy <= F.lit(float(eps)) * F.lit(float(eps)))
        )
        .select(F.col("_la").alias("a"), F.col("_rb").alias("b"))
    )


def spatial_clusters(points: DataFrame, eps: float) -> DataFrame:
    """(pid, cluster_id) for EVERY input point: cluster_id = min pid in the
    point's eps-connectivity component; isolated points are their own
    cluster. Total over the input (unlike raw connected_components)."""
    edges = eps_neighbor_pairs(points, eps)
    cc = connected_components(edges)
    return (
        points.select(F.col("pid").cast("long").alias("pid"))
        .join(cc.withColumnRenamed("node", "pid"), "pid", "left")
        .select(
            F.col("pid"),
            F.coalesce(F.col("cluster_id"), F.col("pid")).alias("cluster_id"),
        )
    )
