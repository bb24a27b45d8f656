"""Distributed connected components + transitive-closure dedup clustering.

Near-dup pair emitters (`minhash_lsh_pairs`, `ngram_jaccard_exact`,
`embedding_neardup_pairs`) produce an EDGE LIST; a real dedup pipeline must
then group documents into *transitive* duplicate clusters (A~B, B~C ⇒ A,B,C
are one group even when A≁C). That closure is connected components over the
pair graph; the `dedup_clusters` contract query returns each node's cluster
id, the minimum id in its cluster.

Scale shape (the 100 TB story):

- **min-label propagation**: every node starts labelled with its own id; each
  round every node takes the min label over itself and its neighbours. One
  round = one equi-join (labels ⋈ edges on the node id) + one groupBy-min
  (partial aggregation map-side, so the shuffle carries one candidate label
  per (node, mapper), not one per edge). Converges in O(graph diameter)
  rounds — and near-dup graphs are SHALLOW: LSH buckets create star/clique
  topologies, so real corpora converge in a handful of rounds (the Kiveris et
  al. 2014 "Connected Components in MapReduce and Beyond" large-star/small-star
  algorithm gets O(log² n) rounds for adversarially deep graphs; label
  propagation is chosen here because its per-round plan is pure relational
  DataFrame ops that Catalyst/AQE optimize, and dup-graph diameters make the
  round count equivalent in practice — `max_iter` guards the pathological
  case loudly instead of silently).
- **convergence without a diff join**: labels are monotonically non-increasing
  and the node set is fixed, so `sum(label)` strictly decreases every round
  until the fixpoint; equality of consecutive sums IS convergence. The sum is
  the same action that materializes the round's cache — no extra pass.
- **bounded lineage**: each round's labels are persisted and the previous
  round unpersisted; every `checkpoint_every` rounds the lineage is truncated
  with `localCheckpoint` so the plan doesn't grow unboundedly on deep graphs.

Reference parity: the reference engine dedups by first-claimer ownership per
tile (a single window), but has no transitive closure operator — this module
is part of the training-data-pipeline extension surface (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontaminate import _gram_hash_col
from .dedup import _register_persist


def _symmetric_edges(e: DataFrame) -> DataFrame:
    """Symmetrized edge list, persisted PRE-PARTITIONED on the per-round join
    key `d` — the cached hash layout satisfies the propagation join's required
    distribution, so the edge table never reshuffles after round 0. Extracted
    so tests can pin that plan property (TestIterativeEdgePlans)."""
    return _register_persist(
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .repartition("d")
        .persist()
    )


def _propagation_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: labels ⋈ edges on the node id + groupBy-min.
    The join must exchange ONLY the labels side (see _symmetric_edges)."""
    prop = sym.join(labels, sym["d"] == labels["node"]).select(
        F.col("s").alias("node"), F.col("label")
    )
    return labels.unionByName(prop).groupBy("node").agg(F.min("label").alias("label"))


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint_every: int = 5,
    on_max_iter: str = "raise",
) -> DataFrame:
    """Connected components of the undirected graph given by an edge list.

    Returns one row per node that appears in `edges`: (node, cluster_id) with
    cluster_id = the minimum node id in that node's component. Isolated
    documents (no edges) are each their own cluster by definition and never
    enter the computation — union them at the caller if needed.

    `on_max_iter`: 'raise' (default) fails loudly if the graph has not
    converged after `max_iter` rounds — a non-converged labelling is NOT a
    transitive closure and silently under-merges clusters; 'return' hands back
    the partial labelling (diagnostics only).
    """
    if on_max_iter not in ("raise", "return"):
        raise ValueError(f"on_max_iter must be 'raise' or 'return', got {on_max_iter!r}")

    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    ).filter(F.col("s") != F.col("d"))
    # symmetrize; duplicate edges are harmless for correctness (min is
    # idempotent) so no distinct shuffle is spent here — pair emitters in this
    # package already emit each (a, b) once.
    # PERSIST: sym joins into every round — without the cache the whole
    # upstream pair plan (for shared_ngram_pairs: explode + self-join +
    # dropDuplicates) re-executes once per iteration (measured 49 s → 11 s
    # warm at sf0.1 on the dedup_clusters contract query). Pre-partitioned on
    # the round join key — see _symmetric_edges (plan-pinned in tests).
    sym = _symmetric_edges(e)

    labels = (
        sym.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    labels = _register_persist(labels.persist())
    # Convergence statistic: sum of xxhash64(node, label) in DECIMAL(38,0),
    # NOT sum(label) in BIGINT. Raw label sums decrease monotonically and at
    # 10^12-node scale overflow BIGINT — wrapping silently with ANSI off
    # ("sum unchanged" then holds only modulo 2^64 over structured, monotone
    # values) or aborting the job with ANSI on. Hashing first makes
    # consecutive-round equality with ANY changed label a ~2^-64 random
    # collision, independent of label structure; the DECIMAL(38,0) sum is
    # exact (no wrap, no ANSI abort) up to ~10^19 rows.
    def _label_digest(df: DataFrame):
        return df.agg(
            F.sum(F.xxhash64("node", "label").cast("decimal(38,0)"))
        ).first()[0]

    prev_sum = _label_digest(labels)

    converged = False
    for it in range(max_iter):
        # candidate labels: each edge (s, d) lets s see d's current label;
        # union with own label, take the min. groupBy-min partial-aggregates
        # map-side, so the shuffle after the join is bounded by distinct nodes
        # per mapper, not by the edge count.
        new_labels = _propagation_round(sym, labels)
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            # truncate lineage: each round's plan references the previous
            # round's cache, and analysis cost compounds on deep graphs.
            # localCheckpoint materializes AND persists, so no extra persist.
            new_labels = _register_persist(new_labels.localCheckpoint(eager=True))
        else:
            new_labels = _register_persist(new_labels.persist())
        cur_sum = _label_digest(new_labels)
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            # no label moved this round (up to a 2^-64 hash-sum collision)
            # ⇒ applying the operator again is the identity ⇒ fixpoint:
            # every node holds its component's min id
            converged = True
            break
        prev_sum = cur_sum

    if not converged and on_max_iter == "raise":
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; the "
            "graph is deeper than a near-dup pair graph should be — raise "
            "max_iter, or investigate the pair emitter (chained templates?)"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def shared_ngram_pairs(docs: DataFrame) -> DataFrame:
    """Edge list (a, b), a < b: documents sharing ≥1 word 5-gram.

    The Dolma/Gopher-style contamination edge rule (share one long shingle ⇒
    duplicate content), and the natural input to `connected_components`. Plan:
    per-row distinct gram hashes (xxhash64, no gram strings ride the shuffle)
    → explode → self-equi-join on the gram key → distinct pairs. The join is
    the candidate generator — only documents sharing a gram ever meet, so the
    cost is Σ bucket² over gram buckets, not |docs|²; at planet scale run
    `exact_dedup` first (Dolma uses 13-grams, so that only true near-dups
    share a gram).
    """
    grams = docs.select(
        F.col("doc_id").cast("long").alias("_id"),
        F.explode(_gram_hash_col("text", 5)).alias("_g"),
    )
    left = grams.select(F.col("_id").alias("a"), "_g")
    right = grams.select(F.col("_id").alias("b"), "_g")
    return (
        left.join(right, "_g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
