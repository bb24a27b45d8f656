"""Connected components + transitive dedup clustering."""

import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.operators.components import (
    connected_components,
    shared_ngram_pairs,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["a", "b"])
    out = connected_components(df, **kw).toPandas().sort_values("node")
    return dict(zip(out["node"], out["cluster_id"]))


class TestConnectedComponents:
    def test_chain_converges_to_min(self, spark):
        """A 10-deep path graph — the worst case for label propagation — lands
        every node on cluster 0, crossing the checkpoint boundary."""
        edges = [(i, i + 1) for i in range(9)]
        got = _cc(spark, edges, checkpoint_every=3)
        assert got == {i: 0 for i in range(10)}

    def test_disjoint_components_and_ring(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22)]
        got = _cc(spark, edges)
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_edge_direction_and_duplicates_irrelevant(self, spark):
        got = _cc(spark, [(5, 2), (2, 5), (5, 2), (7, 5)])
        assert got == {2: 2, 5: 2, 7: 2}

    def test_partition_invariance(self, spark):
        edges = [(i, i + 1) for i in range(0, 40, 2)] + [(i, i + 2) for i in range(0, 30, 3)]
        df = spark.createDataFrame(edges, ["a", "b"])
        one = connected_components(df).toPandas().sort_values("node").reset_index(drop=True)
        two = (
            connected_components(df.repartition(13))
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )
        assert one.equals(two)

    def test_max_iter_raises_loudly(self, spark):
        edges = [(i, i + 1) for i in range(15)]
        df = spark.createDataFrame(edges, ["a", "b"])
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=3)

    def test_max_iter_return_partial(self, spark):
        edges = [(i, i + 1) for i in range(15)]
        df = spark.createDataFrame(edges, ["a", "b"])
        out = connected_components(df, max_iter=3, on_max_iter="return")
        assert out.count() == 16  # partial labelling, all nodes present

    def test_self_loops_ignored(self, spark):
        got = _cc(spark, [(3, 3), (3, 4)])
        assert got == {3: 3, 4: 3}


class TestSharedNgramPairs:
    def test_matches_bruteforce(self, spark):
        docs = [
            (0, "the quick brown fox jumps over the dog"),
            (1, "a quick brown fox jumps over me today"),  # shares 'quick brown fox jumps over' w/ 0
            (2, "completely different words in this one here"),
            (3, "words in this one here completely different"),  # shares 'words in this one here' w/ 2
            (4, "the quick brown fox jumps over the dog"),  # identical to 0
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            tuple(r)
            for r in shared_ngram_pairs(df).select("a", "b").toPandas().values.tolist()
        }

        def grams(t, n=5):
            w = t.split(" ")
            return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

        want = {
            (a, b)
            for a in range(5)
            for b in range(a + 1, 5)
            if grams(docs[a][1]) & grams(docs[b][1])
        }
        assert got == want
        assert (0, 1) in got and (2, 3) in got and (0, 4) in got

    def test_short_docs_produce_no_grams(self, spark):
        df = spark.createDataFrame([(0, "too short"), (1, "too short")], ["doc_id", "text"])
        assert shared_ngram_pairs(df).count() == 0


class TestIterativeEdgePlans:
    """Round-5 plan pins (r4 VERDICT ask #10): the iterative operators claim
    the big table never reshuffles after round 0 — the symmetrized edge list
    (connected_components) and the degree-annotated edge table (pagerank) are
    persisted pre-partitioned on the per-round join key, so the round join
    must contain ZERO Exchange nodes above the caches (the labels/ranks sides
    come out of node-keyed aggregations with the same layout)."""

    @staticmethod
    def _subtree_names(node):
        out, stack = [], [node]
        while stack:
            n = stack.pop()
            out.append(n.nodeName())
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return out

    @classmethod
    def _find_all(cls, node, name):
        out, stack = [], [node]
        while stack:
            n = stack.pop()
            if n.nodeName() == name:
                out.append(n)
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return out

    def _pin_round_plan(self, spark, df):
        """Assert (a) the innermost sort-merge join reads both sides from
        cache with no Exchange in between, and (b) the WHOLE round plan
        contains exactly one Exchange — the map-side-combined aggregation
        shuffle; any second one means a cached table reshuffled. Child
        traversal stops at InMemoryTableScan, so cached round-0 lineage
        (which legitimately repartitioned) is outside the pin. AQE is
        disabled only while PLANNING the probe plan so executedPlan is the
        plain physical tree."""
        old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            ep = df._jdf.queryExecution().executedPlan()
            all_names = self._subtree_names(ep)
            assert all_names.count("Exchange") == 1, all_names
            smjs = self._find_all(ep, "SortMergeJoin")
            assert smjs, ep.toString()
            # innermost join = no SortMergeJoin descendant
            inner = [
                s for s in smjs
                if self._subtree_names(s).count("SortMergeJoin") == 1
            ]
            assert inner, ep.toString()
            for s in inner:
                names = self._subtree_names(s)
                assert "Exchange" not in names, names
                assert names.count("InMemoryTableScan") >= 2, names
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    def test_cc_propagation_round_never_reshuffles_edges(self, spark):
        from osm_data_3d_tiles_spark.operators.components import (
            _propagation_round,
            _symmetric_edges,
        )

        e = (
            spark.createDataFrame([(i, (i * 3) % 50) for i in range(200)], "s long, d long")
            .filter("s != d")
        )
        sym = _symmetric_edges(e)
        sym.count()
        labels = (
            sym.select(F.col("s").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .persist()
        )
        labels.count()
        try:
            self._pin_round_plan(spark, _propagation_round(sym, labels))
        finally:
            labels.unpersist()
            sym.unpersist()

    def test_pagerank_round_never_reshuffles_edges(self, spark):
        from osm_data_3d_tiles_spark.operators.dedup import _register_persist
        from osm_data_3d_tiles_spark.operators.graph import _rank_round

        e = spark.createDataFrame(
            [(i, (i * 7) % 40) for i in range(200)], "src long, dst long"
        )
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
        ed = _register_persist(e.join(deg, "src").repartition("src").persist())
        ed.count()
        nd = _register_persist(
            spark.range(40).select(F.col("id").alias("node")).repartition("node").persist()
        )
        nd.count()
        ranks = _register_persist(
            nd.withColumn("rank_fp", F.lit(10**12 // 40).cast("long")).persist()
        )
        ranks.count()
        try:
            contrib = F.expr("(17 * rank_fp) div (20 * od)")
            self._pin_round_plan(spark, _rank_round(ed, nd, ranks, contrib, 10**9))
        finally:
            ranks.unpersist()
            nd.unpersist()
            ed.unpersist()
