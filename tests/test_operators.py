"""Webtext operator tests: dedup family, similarity search, text analysis,
multimodal plumbing — run on the driver-provided documents / embeddings
tables at sf0.001 plus small synthetic frames."""

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.functions import text as tx
from osm_data_3d_tiles_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_exact,
    simhash_pairs,
    simhash_pairs_from_signatures,
)
from osm_data_3d_tiles_spark.operators.multimodal import (
    extract_features,
    make_media_fixture,
)
from osm_data_3d_tiles_spark.operators.similarity import ann_bruteforce_topk, ann_ivf_topk
from osm_data_3d_tiles_spark.operators.textops import (
    with_fingerprint,
    with_lang_id,
    with_quality,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Documents plus planted near/exact duplicates."""
    rows = [
        (1001, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1002, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1003, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (1004, "a completely different document about spark and distributed computing systems"),
        (1005, "el perro grande corre por la calle con los niños en el parque hoy mismo"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestExactDedup:
    def test_groups(self, dup_docs):
        out = exact_dedup(dup_docs).toPandas()
        assert out["dup_count"].sum() == 5
        assert (out[out["dup_count"] == 2]["keep_id"] == 1001).all()

class TestNearDedup:
    def test_minhash_finds_planted_pair(self, dup_docs):
        pairs = minhash_lsh_pairs(dup_docs, threshold=0.6).toPandas()
        assert (1001, 1002) in set(zip(pairs["a"], pairs["b"]))
        # exact duplicates agree on every permutation
        exact = pairs[(pairs["a"] == 1001) & (pairs["b"] == 1002)]
        assert (exact["est_jaccard"] == 1.0).all()

    def test_simhash_planted_pair(self, dup_docs):
        pairs = simhash_pairs(dup_docs, max_hamming=16).toPandas()
        got = set(zip(pairs["a"], pairs["b"]))
        assert (1001, 1002) in got
        ham = pairs.set_index(["a", "b"])["hamming"]
        assert ham.loc[(1001, 1002)] == 0

    def test_unpersist_all_releases_registered_caches(self, spark, dup_docs):
        from osm_data_3d_tiles_spark.operators import dedup as dd

        dd.unpersist_all()  # drain leftovers from other tests
        minhash_lsh_pairs(dup_docs, threshold=0.6).count()
        assert len(dd._PERSISTED) >= 1
        n = dd.unpersist_all()
        assert n >= 1 and not dd._PERSISTED

    def test_embedding_neardup(self, spark):
        rng = np.random.RandomState(7)
        base = rng.randn(20, 8).astype(np.float64)
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
        rows.append((100, [float(x) for x in base[0] * 1.001]))  # near-dup of 0
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        pairs = embedding_neardup_pairs(df, threshold=0.99).toPandas()
        assert (0, 100) in set(zip(pairs["a"], pairs["b"]))

    def test_simhash_distance6_pair_found(self, spark):
        # diffs placed so every 16-bit quarter differs: a 4-chunk bucketing
        # misses this pair; the d+1-block scheme may not (6 diffs < 9 blocks)
        base = 0x0123456789ABCDEF
        diff = (1 << 0) | (1 << 5) | (1 << 17) | (1 << 33) | (1 << 49) | (1 << 60)
        rows = [(1, base), (2, base ^ diff), (3, 0x7654321076543210)]
        sims = spark.createDataFrame(rows, schema="doc_id long, simhash long")
        pairs = simhash_pairs_from_signatures(sims, max_hamming=8).toPandas()
        assert set(zip(pairs["a"], pairs["b"])) == {(1, 2)}
        assert pairs.set_index(["a", "b"])["hamming"].loc[(1, 2)] == 6
        # distance 6 must NOT survive a max_hamming=3 verify
        tight = simhash_pairs_from_signatures(sims, max_hamming=3).toPandas()
        assert len(tight) == 0

    def test_simhash_rejects_insufficient_blocks(self, spark):
        sims = spark.createDataFrame([(1, 7)], schema="doc_id long, simhash long")
        with pytest.raises(ValueError, match="n_blocks"):
            simhash_pairs_from_signatures(sims, max_hamming=8, n_blocks=4)

    def test_embedding_lsh_measured_recall(self, spark):
        """Banded multi-table LSH recall ≥ 0.9 against a numpy brute-force
        ground truth, with precision 1.0 (the cosine verify is exact)."""
        rng = np.random.RandomState(11)
        base = rng.randn(200, 32)
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
        for i in range(20):
            pert = base[i] + 0.05 * rng.randn(32)
            rows.append((1000 + i, [float(x) for x in pert]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = embedding_neardup_pairs(df, threshold=0.95).toPandas()
        got_pairs = set(zip(got["a"], got["b"]))

        ids = np.array([r[0] for r in rows])
        mat = np.array([r[1] for r in rows])
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = unit @ unit.T
        iu = np.triu_indices(len(ids), k=1)
        truth = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            for i, j in zip(*iu)
            if cos[i, j] >= 0.95
        }
        assert len(truth) >= 15
        assert got_pairs <= truth, "exact verify must make precision 1.0"
        assert len(got_pairs & truth) / len(truth) >= 0.9

    def test_ngram_at_threshold_integer_prefix(self, spark):
        """Pair EXACTLY at threshold (J = 63/77 = 9/11) whose 14 rarest grams
        of A are its non-shared ones: float-ceil prefix math (77·9/11 →
        63.000000000000014 → ceil 64) shortens A's prefix by one and silently
        drops the pair; the integer bound keeps it."""
        shared = [f"s{i:02d}" for i in range(63)]
        only_a = [f"zz{i:02d}" for i in range(14)]  # df=1 → sort before shared
        df = spark.createDataFrame(
            [(1, " ".join(shared + only_a)), (2, " ".join(shared))],
            "doc_id long, text string",
        )
        out = ngram_jaccard_exact(df, n=1, threshold_num=9, threshold_den=11).toPandas()
        assert set(zip(out["a"], out["b"])) == {(1, 2)}

    def test_simhash_zero_hamming_exact_match(self, spark):
        sims = spark.createDataFrame(
            [(1, 12345), (2, 12345), (3, 54321)], "doc_id long, simhash long"
        )
        out = simhash_pairs_from_signatures(sims, max_hamming=0).toPandas()
        assert set(zip(out["a"], out["b"])) == {(1, 2)}

    def test_ngram_hot_gram_skew(self, spark):
        """One trigram shared by every doc: the df-ascending prefix filter must
        keep it out of the candidate join while preserving the exact result."""
        hot = "common shared trigram"
        docs = [(i, f"{hot} unique{i} filler{i} word{i} tail{i}") for i in range(200)]
        docs.append((1000, docs[0][1]))  # exact dup of doc 0
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = ngram_jaccard_exact(df, n=3, threshold_num=3, threshold_den=5).toPandas()
        assert set(zip(out["a"], out["b"])) == {(0, 1000)}


class TestDecontaminate:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),        # shares a 3-gram w/ ref
            (2, "completely unrelated words nothing shared here"),
            (3, "beta gamma delta other tail words"),          # shares 'beta gamma delta'
            (4, "one two three four five six"),
        ]
        ref = [(100, "prefix alpha beta gamma delta suffix")]
        return (
            spark.createDataFrame(rows, ["doc_id", "text"]),
            spark.createDataFrame(ref, ["doc_id", "text"]),
        )

    def test_planted_overlap_found_exactly(self, corpus):
        from osm_data_3d_tiles_spark.operators.decontaminate import contaminated_docs

        docs, ref = corpus
        out = contaminated_docs(docs, ref).toPandas().set_index("doc_id")
        # doc 1 shares 'alpha beta gamma' + 'beta gamma delta'; doc 3 shares 1
        assert sorted(out.index) == [1, 3]
        assert out.loc[1, "n_hits"] == 2
        assert out.loc[3, "n_hits"] == 1

    def test_bloom_and_exact_paths_agree(self, corpus):
        from osm_data_3d_tiles_spark.operators.decontaminate import contaminated_docs

        docs, ref = corpus
        a = contaminated_docs(docs, ref, use_bloom=True).toPandas()
        b = contaminated_docs(docs, ref, use_bloom=False).toPandas()
        key = lambda df: sorted(zip(df["doc_id"], df["n_hits"]))
        assert key(a) == key(b)

    def test_empty_reference_flags_nothing(self, spark, corpus):
        from osm_data_3d_tiles_spark.operators.decontaminate import contaminated_docs

        docs, _ = corpus
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert contaminated_docs(docs, empty).count() == 0


class TestSimilarity:
    def test_ivf_recall_vs_bruteforce(self, spark, embeddings):
        q = (
            embeddings.limit(5)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
        )
        brute = ann_bruteforce_topk(embeddings, q, k=5).toPandas()
        ivf = ann_ivf_topk(embeddings, q, k=5, n_list=8, n_probe=8).toPandas()
        # probing all lists → IVF must equal brute force exactly
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["vec_id"]))
        assert key(brute) == key(ivf)

    def test_ivf_default_params_recall_gate(self, spark, embeddings):
        """recall@10 vs brute force with the DEFAULT (pruning) params — the
        gate behind the docstring's accuracy claim (measured 0.90 on this
        fixture; gated at 0.85 to keep margin over sf regeneration)."""
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        brute = ann_bruteforce_topk(embeddings, q, k=10).toPandas()
        ivf = ann_ivf_topk(embeddings, q, k=10).toPandas()
        hits = 0
        for qid in brute["query_id"].unique():
            want = set(brute[brute["query_id"] == qid]["vec_id"])
            got = set(ivf[ivf["query_id"] == qid]["vec_id"])
            hits += len(want & got)
        assert hits / len(brute) >= 0.85

    def test_ivf_pq_matches_ivf_flat_at_same_pruning(self, spark, embeddings):
        """The PQ shortlist + exact rerank must lose (almost) nothing against
        IVF-flat with the identical n_list/n_probe — isolates the
        quantization error from the (shared) pruning error. Measured 1.00 on
        sf0.01; gated ≥ 0.95 for fixture-regeneration margin."""
        from osm_data_3d_tiles_spark.operators.similarity import ann_ivf_pq_topk

        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        ivf = ann_ivf_topk(embeddings, q, k=10).toPandas()
        pq = ann_ivf_pq_topk(embeddings, q, k=10).toPandas()
        hits = 0
        for qid in ivf["query_id"].unique():
            want = set(ivf[ivf["query_id"] == qid]["vec_id"])
            hits += len(want & set(pq[pq["query_id"] == qid]["vec_id"]))
        assert hits / len(ivf) >= 0.95

    def test_ivf_pq_exact_when_probing_everything(self, spark, embeddings):
        """n_probe = n_list and a generous rerank shortlist → PQ must equal
        brute force exactly (the approximation is only ordering the
        shortlist, and rerank uses exact cosines)."""
        from osm_data_3d_tiles_spark.operators.similarity import ann_ivf_pq_topk

        q = embeddings.limit(5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        brute = ann_bruteforce_topk(embeddings, q, k=5).toPandas()
        pq = ann_ivf_pq_topk(embeddings, q, k=5, n_list=8, n_probe=8, refine=16).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["vec_id"]))
        assert key(brute) == key(pq)

    def test_pq_codebook_determinism(self):
        from osm_data_3d_tiles_spark.operators.similarity import _train_pq_codebooks
        import numpy as np

        rng = np.random.default_rng(3)
        mat = rng.normal(size=(512, 64))
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        a = _train_pq_codebooks(mat.copy(), m_sub=16, n_codes=32)
        b = _train_pq_codebooks(mat.copy(), m_sub=16, n_codes=32)
        np.testing.assert_array_equal(a, b)
        with pytest.raises(ValueError, match="divisible"):
            _train_pq_codebooks(mat, m_sub=7, n_codes=32)

    def test_self_is_top1(self, embeddings):
        q = embeddings.limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        brute = ann_bruteforce_topk(embeddings, q, k=1).toPandas()
        assert (brute["query_id"] == brute["vec_id"]).all()

    def test_ivf_assignment_is_zero_shuffle(self, spark, embeddings):
        """The nearest-centroid assignment (the whole-table index-build stage)
        must be one narrow Arrow pass — no Exchange. The previous shape
        (crossJoin×n_list + row_number window partitioned by vec_id) shuffled
        16× the base table to pick an argmax."""
        import numpy as np

        from osm_data_3d_tiles_spark.operators.similarity import (
            _assign_lists,
            _unit_col,
        )

        base = embeddings.select(
            F.col("vec_id"), _unit_col(F.col("embedding").cast("array<double>")).alias("unit")
        )
        rng = np.random.RandomState(0)
        cents = rng.randn(8, 64)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        assigned = _assign_lists(base, cents, "vec_id")
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        pdf = assigned.toPandas()
        # every vector assigned, argmax verified against numpy
        assert len(pdf) == embeddings.count()
        m = np.vstack([np.asarray(v) for v in pdf["unit"]])
        want = np.argmax(m @ cents.T, axis=1)
        assert (pdf["list_id"].to_numpy() == want).all()


class TestTextOps:
    def test_lang_id_on_fixture_langs(self, spark):
        rows = [
            (1, "the cat and the dog are in the house with it"),
            (2, "le chat est dans la maison pour une belle journée"),
            (3, "der hund und die katze sind mit dem kind auf der straße"),
            (4, "el perro y los niños juegan con una pelota en el parque"),
        ]
        df = spark.createDataFrame(rows, ["id", "text"])
        out = with_lang_id(df).toPandas().set_index("id")["predicted_lang"]
        assert list(out.loc[[1, 2, 3, 4]]) == ["en", "fr", "de", "es"]

    def test_quality_and_filter(self, documents):
        q = with_quality(documents).toPandas()
        assert ((q["alpha_ratio"] >= 0) & (q["alpha_ratio"] <= 1)).all()

    def test_fingerprint_deterministic(self, spark):
        df = spark.createDataFrame([(1, "some document text here")], ["id", "text"])
        a = with_fingerprint(df).toPandas()["fingerprint"][0]
        b = tx.rolling_fingerprint(pd.Series(["some document text here"]))[0]
        assert a == b


class TestMultimodal:
    def test_feature_plumbing(self, spark):
        media = make_media_fixture(spark, 32)
        feats = extract_features(media).toPandas()
        assert len(feats) == 32
        assert all(len(f) == 32 for f in feats["features"])
        # determinism: same payload → same features
        again = extract_features(media).toPandas()
        pd.testing.assert_frame_equal(
            feats.sort_values("media_id").reset_index(drop=True),
            again.sort_values("media_id").reset_index(drop=True),
        )

    def test_real_decoder_is_stubbed(self):
        from osm_data_3d_tiles_spark.operators.multimodal import decode_image_real

        with pytest.raises(NotImplementedError):
            decode_image_real(b"x")


class TestTextHygiene:
    def test_canonicalize_rules(self, spark):
        cases = [
            # (raw, expected canonical)
            ("HTTP://User:Pw@WWW.Ex.COM:80/a/b?utm_source=x#f", "http://www.ex.com/a/b"),
            ("https://ex.com:443/", "https://ex.com/"),
            ("https://ex.com:8443/x", "https://ex.com:8443/x"),
            ("https://Ex.Com", "https://ex.com/"),
            ("http://ex.com/p?a=1&fbclid=zz&b=2&UTM_term=q", "http://ex.com/p?a=1&b=2"),
            ("http://ex.com/p?gclid=only", "http://ex.com/p"),
            # param ORDER is preserved (reordering conflates distinct URLs)
            ("http://ex.com/p?b=2&a=1", "http://ex.com/p?b=2&a=1"),
            # '?' inside the fragment is NOT a query string
            ("http://ex.com/p#frag?utm_source=x", "http://ex.com/p"),
            # scheme-less input degrades to a stable lowercased key
            ("Example.COM/Path#f", "example.com/path"),
        ]
        from osm_data_3d_tiles_spark.operators.urls import canonicalize_url

        df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)], ["i", "url"])
        got = canonicalize_url(df).toPandas().sort_values("i")["canonical_url"].tolist()
        assert got == [want for _, want in cases]

    def test_url_dedup_latest_keeps_newest(self, spark):
        from osm_data_3d_tiles_spark.operators.urls import (
            canonicalize_url,
            url_dedup_latest,
        )

        rows = [
            ("http://A.com/x?utm_source=1", 10, "old"),
            ("HTTP://a.COM/x#frag", 30, "new"),
            ("http://a.com:80/x", 20, "mid"),
            ("http://b.com/", 5, "only"),
        ]
        df = spark.createDataFrame(rows, ["url", "warc_ts", "payload"])
        out = (
            url_dedup_latest(canonicalize_url(df).drop("url"))
            .toPandas()
            .set_index("canonical_url")
        )
        assert out.loc["http://a.com/x", "payload"] == "new"
        assert out.loc["http://a.com/x", "n_dups"] == 3
        assert out.loc["http://b.com/", "n_dups"] == 1
        # map-side-combinable agg, not a window: plan must contain a partial agg
        plan = url_dedup_latest(canonicalize_url(df).drop("url"))._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan

    def test_repetition_ratio(self, spark):
        from osm_data_3d_tiles_spark.operators.textops import with_repetition

        rows = [
            (1, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "all words differ here"),
            (3, "one"),               # under two words -> 0 bigrams, ratio 0
            (4, ""),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = with_repetition(df).toPandas().set_index("doc_id")
        assert out.loc[1, "n_bigrams"] == 5
        assert out.loc[1, "n_distinct_bigrams"] == 2
        assert abs(out.loc[1, "dup_bigram_ratio"] - (1 - 2 / 5)) < 1e-15
        assert out.loc[2, "dup_bigram_ratio"] == 0.0
        assert out.loc[3, "n_bigrams"] == 0 and out.loc[3, "dup_bigram_ratio"] == 0.0
        assert out.loc[4, "n_bigrams"] == 0

    def test_redact_pii(self, spark):
        from osm_data_3d_tiles_spark.operators.textops import redact_pii

        rows = [
            (1, "mail a.b+c@sub.ex.org and b@x.io, ip 192.168.0.1, call +3361234567 now"),
            (2, "no pii here, just 1.2 numbers and an at sign @ alone"),
            (3, "version 1.2.3.4 of the lib"),  # dotted quad redacted by design
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = redact_pii(df).toPandas().set_index("doc_id")
        assert out.loc[1, "n_email"] == 2
        assert out.loc[1, "n_ipv4"] == 1
        assert out.loc[1, "n_phone"] == 1
        assert (
            out.loc[1, "text_redacted"]
            == "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE> now"
        )
        assert out.loc[2, "n_email"] == 0 and out.loc[2, "text_redacted"] == rows[1][1]
        assert out.loc[3, "n_ipv4"] == 1


class TestSampling:
    def test_split_deterministic_and_proportional(self, documents):
        from osm_data_3d_tiles_spark.operators.sampling import split_by_hash

        a = split_by_hash(documents, val_permille=100, test_permille=100).toPandas()
        b = split_by_hash(documents, val_permille=100, test_permille=100).toPandas()
        pd.testing.assert_frame_equal(
            a.sort_values("doc_id").reset_index(drop=True),
            b.sort_values("doc_id").reset_index(drop=True),
        )
        frac = (a["split"] != "train").mean()
        assert 0.08 < frac < 0.35  # ~20% expected, small-sample slack
        # different seed -> different assignment
        c = split_by_hash(documents, val_permille=100, test_permille=100, seed=7).toPandas()
        merged = a.merge(c, on="doc_id", suffixes=("_a", "_c"))
        assert (merged["split_a"] != merged["split_c"]).any()

    def test_split_rejects_overfull(self, documents):
        from osm_data_3d_tiles_spark.operators.sampling import split_by_hash

        with pytest.raises(ValueError):
            split_by_hash(documents, val_permille=600, test_permille=600)

    def test_cap_per_host(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import cap_per_host

        rows = [(i, f"h{i % 3}") for i in range(100)]
        df = spark.createDataFrame(rows, ["doc_id", "host"])
        out = cap_per_host(df, max_docs=10).toPandas()
        per = out.groupby("host")["doc_id"].count()
        assert (per == 10).all()
        # deterministic keep-set across runs / partitionings
        again = cap_per_host(df.repartition(7), max_docs=10).toPandas()
        assert set(map(tuple, out.values.tolist())) == set(map(tuple, again.values.tolist()))

    def test_canonicalize_idempotent(self, spark):
        """canonical(canonical(u)) == canonical(u) over a messy generated set."""
        from osm_data_3d_tiles_spark.operators.urls import canonicalize_url

        urls = []
        for i in range(200):
            scheme = ["http", "HTTP", "https", "HtTpS"][i % 4]
            host = f"Sub{i % 5}.ExAmple{i % 3}.com"
            port = ["", ":80", ":443", ":8080"][i % 4]
            path = ["", "/", f"/a/{i % 7}", "/x%20y"][i % 4]
            q = ["", "?a=1", "?utm_source=s&b=2", "?fbclid=f", "?b=2&a=1&utm_x=1"][i % 5]
            frag = ["", "#f", "#f?notquery"][i % 3]
            urls.append((i, f"{scheme}://{host}{port}{path}{q}{frag}"))
        df = spark.createDataFrame(urls, ["i", "url"])
        once = canonicalize_url(df).select("i", F.col("canonical_url").alias("url"))
        twice = canonicalize_url(once).toPandas().sort_values("i")
        assert (twice["url"] == twice["canonical_url"]).all()


class TestBpeTokenCount:
    def test_matches_python_re_on_adversarial_text(self, spark):
        """Spark's Java regex and Python's re share leftmost-first ordered
        alternation, so the same pattern is an independent reference for the
        branches the plain-word fixtures never exercise."""
        import re

        from osm_data_3d_tiles_spark.operators.textops import (
            BPE_ISH_PATTERN,
            with_bpe_token_count,
        )

        texts = [
            "don't stop, we're 42% done... it'll work!!",
            "  leading and   multi   spaces\tand tabs",
            "CamelCase mixed123with456digits",
            "unicode-free punct: ()[]{}<>#@$%^&*",
            "'s't're've'm'll'd chained contractions",
            "",
            "x",
        ]
        df = spark.createDataFrame(list(enumerate(texts)), ["i", "text"])
        got = (
            with_bpe_token_count(df)
            .toPandas()
            .sort_values("i")["n_tokens_bpe"]
            .tolist()
        )
        want = [len(re.findall(BPE_ISH_PATTERN, t)) for t in texts]
        assert got == want

    def test_hand_counts(self, spark):
        from osm_data_3d_tiles_spark.operators.textops import with_bpe_token_count

        # "don't go" -> ["don", "'t", " go"]; "a  b" -> ["a", "  ", "b"]
        # (` ?` absorbs at most one space, so the double space falls to \s+,
        # which greedily takes both, leaving "b" unprefixed).
        df = spark.createDataFrame([(0, "don't go"), (1, "a  b")], ["i", "text"])
        got = with_bpe_token_count(df).toPandas().sort_values("i")["n_tokens_bpe"].tolist()
        assert got == [3, 3]


class TestTfidfTopTerms:
    def test_rare_term_outranks_common(self, spark):
        from osm_data_3d_tiles_spark.operators.textops import top_terms_tfidf

        rows = [
            (0, "common common rare"),
            (1, "common common common"),
            (2, "common other other"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = top_terms_tfidf(df, k=2).toPandas()
        # doc 0: rare (df=1, score 1*3//1=3) beats common (tf=2, df=3 -> 2*3//3=2)
        d0 = got[got.doc_id == 0].sort_values("rn")
        assert d0.term.tolist() == ["rare", "common"]
        assert d0.score.tolist() == [3, 2]
        # doc 1 has a single term
        assert got[got.doc_id == 1].term.tolist() == ["common"]

    def test_tie_breaks_by_term_asc(self, spark):
        from osm_data_3d_tiles_spark.operators.textops import top_terms_tfidf

        df = spark.createDataFrame([(0, "b a"), (1, "a b")], ["doc_id", "text"])
        got = top_terms_tfidf(df, k=2).toPandas()
        for d in (0, 1):
            assert got[got.doc_id == d].sort_values("rn").term.tolist() == ["a", "b"]


class TestResizeImages:
    def test_resize_shape_and_determinism(self, spark):
        from osm_data_3d_tiles_spark.operators.multimodal import (
            make_media_fixture,
            resize_images,
        )

        media = make_media_fixture(spark, 30)
        out = resize_images(media, 16, 12).toPandas()
        n_images = media.filter("kind = 'image'").count()
        assert len(out) == n_images
        assert (out.width == 16).all() and (out.height == 12).all()
        assert out.payload.map(len).eq(16 * 12 * 3).all()
        again = resize_images(media, 16, 12).toPandas()
        assert out.sort_values("media_id").payload.tolist() == again.sort_values("media_id").payload.tolist()

    def test_nearest_kernel_exact(self):
        import numpy as np

        from osm_data_3d_tiles_spark.operators.multimodal import resize_nearest

        img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
        up = resize_nearest(img, 12, 8)  # 2x in both axes
        assert up.shape == (8, 12, 3)
        # each source pixel becomes a 2x2 block
        assert (up[0:2, 0:2] == img[0, 0]).all()
        assert (up[6:8, 10:12] == img[3, 5]).all()
        down = resize_nearest(img, 3, 2)
        assert down.shape == (2, 3, 3)
        assert (down[0, 0] == img[0, 0]).all()
        assert (down[1, 2] == img[2, 4]).all()

    def test_bad_dims_raise(self, spark):
        from osm_data_3d_tiles_spark.operators.multimodal import (
            make_media_fixture,
            resize_images,
        )

        with pytest.raises(ValueError, match="target dims"):
            resize_images(make_media_fixture(spark, 3), 0, 4)


class TestSketches:
    def test_kmv_exact_fallback(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import kmv_distinct

        df = spark.createDataFrame(
            [(i % 7, "g") for i in range(100)], "v long, grp string"
        )
        out = kmv_distinct(df, key="v", group="grp", k=64).collect()
        assert len(out) == 1
        assert out[0].n_kept == 7 and out[0].est == 7

    def test_kmv_sketch_path_matches_reference_formula(self, spark):
        import hashlib

        from osm_data_3d_tiles_spark.operators.sketches import (
            KMV_HASH_BITS,
            kmv_distinct,
        )

        vals = list(range(2000))
        df = spark.createDataFrame([(v, "g") for v in vals], "v long, grp string")
        k = 64
        out = kmv_distinct(df, key="v", group="grp", k=k).collect()[0]
        hashes = sorted(
            int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16) for v in set(vals)
        )
        expect = ((k - 1) << KMV_HASH_BITS) // hashes[k - 1]
        assert out.n_kept == k and out.est == expect
        # bottom-k estimate should land within ~3/sqrt(k) of truth
        assert abs(out.est - 2000) / 2000 < 3 / (k ** 0.5)

    def test_kmv_bad_k(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import kmv_distinct

        df = spark.createDataFrame([(1, "g")], "v long, grp string")
        with pytest.raises(ValueError, match="k must be"):
            kmv_distinct(df, key="v", group="grp", k=1)

    def test_triangles_k4_and_noise(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import triangle_counts

        # K4 on {0,1,2,3}: 4 triangles, every node in 3. Edges given
        # directed/duplicated/self-looped to exercise the normalizer;
        # 3-9-10 dangles off a path (no triangle -> absent from output).
        edges = [(a, b) for a in range(4) for b in range(4)] + [(3, 9), (9, 10)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_triangles_path_graph_empty(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import triangle_counts

        df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
        assert triangle_counts(df).count() == 0


class TestReconcile:
    def test_digest_detects_single_row_change(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import table_digest

        a = spark.createDataFrame([(i, "x") for i in range(200)], "k long, v string")
        b = spark.createDataFrame(
            [(i, "x") for i in range(200) if i != 77] + [(77, "y")], "k long, v string"
        )
        da = table_digest(a, ["k", "v"], n_buckets=16).toPandas().set_index("bucket")
        db = table_digest(b, ["k", "v"], n_buckets=16).toPandas().set_index("bucket")
        diff = (da["digest"] != db["digest"]).sum()
        # exactly the bucket(s) holding row 77's old/new hash disagree
        assert 1 <= diff <= 2
        assert (da["n_rows"].sum() == db["n_rows"].sum() == 200)

    def test_digest_order_independent(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import table_digest

        rows = [(i, f"s{i%7}") for i in range(300)]
        a = spark.createDataFrame(rows, "k long, v string").repartition(7)
        b = spark.createDataFrame(rows[::-1], "k long, v string").repartition(3)
        da = table_digest(a, ["k", "v"]).toPandas().sort_values("bucket").reset_index(drop=True)
        db = table_digest(b, ["k", "v"]).toPandas().sort_values("bucket").reset_index(drop=True)
        assert da.equals(db)

    def test_digest_bad_buckets(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import table_digest

        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="n_buckets"):
            table_digest(df, ["k"], n_buckets=0)

    def test_snapshot_diff_classes(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import snapshot_diff

        old = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
        new = spark.createDataFrame([(2, 20), (3, 99), (4, 40)], "k long, v long")
        got = {
            r.k: (r.change_type, r.old_value, r.new_value)
            for r in snapshot_diff(old, new, "k", "v").collect()
        }
        assert got == {
            1: ("deleted", 10, -1),
            3: ("changed", 30, 99),
            4: ("inserted", -1, 40),
        }


class TestExactQuantiles:
    def test_small_group_known_values(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import exact_quantiles

        rows = [("a", v, i) for i, v in enumerate([5, 1, 9, 3, 7])]  # sorted: 1 3 5 7 9
        rows += [("b", v, i) for i, v in enumerate([10, 20])]
        df = spark.createDataFrame(rows, "g string, v long, t long")
        got = {r.g: (r.n, r.median, r.p90) for r in
               exact_quantiles(df, "v", "g", "t").collect()}
        # n=5: median rank 3 -> 5; p90 rank (45+9)//10 = 5 -> 9
        assert got["a"] == (5, 5, 9)
        # n=2: median rank 1 -> 10; p90 rank (18+9)//10 = 2 -> 20
        assert got["b"] == (2, 10, 20)

    def test_matches_numpy_on_random(self, spark):
        import numpy as np

        from osm_data_3d_tiles_spark.operators.sampling import exact_quantiles

        rng = np.random.RandomState(11)
        vals = rng.randint(0, 10_000, size=999)
        df = spark.createDataFrame(
            [("g", int(v), i) for i, v in enumerate(vals)], "g string, v long, t long"
        )
        r = exact_quantiles(df, "v", "g", "t").collect()[0]
        srt = np.sort(vals)
        assert r.median == srt[(999 + 1) // 2 - 1]
        assert r.p90 == srt[(9 * 999 + 9) // 10 - 1]


class TestIntervalJoin:
    def test_matches_naive_nonequi(self, spark):
        from osm_data_3d_tiles_spark.operators.interval import bucketed_range_join

        import numpy as np
        rng = np.random.RandomState(5)
        evs = [(int(i), int(rng.randint(0, 100_000))) for i in range(400)]
        wins = [(int(j), int(s), int(s + rng.randint(1, 20_000)))
                for j, s in enumerate(rng.randint(0, 100_000, size=30))]
        ev = spark.createDataFrame(evs, "event_id long, ts_epoch long")
        w = spark.createDataFrame(wins, "window_id long, start_epoch long, end_epoch long")
        got = bucketed_range_join(ev, w, bucket_s=5000).select(
            "event_id", "window_id").toPandas()
        naive = {(e, j) for e, t in evs for j, s, x in wins if s <= t < x}
        assert set(zip(got.event_id, got.window_id)) == naive

    def test_window_shorter_and_longer_than_bucket(self, spark):
        from osm_data_3d_tiles_spark.operators.interval import bucketed_range_join

        ev = spark.createDataFrame([(1, 50), (2, 1500), (3, 9999)],
                                   "event_id long, ts_epoch long")
        w = spark.createDataFrame([(10, 0, 100), (11, 40, 10_000)],
                                  "window_id long, start_epoch long, end_epoch long")
        got = bucketed_range_join(ev, w, bucket_s=1000).select(
            "event_id", "window_id").toPandas()
        assert set(zip(got.event_id, got.window_id)) == {(1, 10), (1, 11), (2, 11), (3, 11)}

    def test_bad_bucket(self, spark):
        from osm_data_3d_tiles_spark.operators.interval import bucketed_range_join

        df = spark.createDataFrame([(1, 1)], "event_id long, ts_epoch long")
        with pytest.raises(ValueError, match="bucket_s"):
            bucketed_range_join(df, df, bucket_s=0)


class TestOverlayJoin:
    def test_known_overlaps(self, spark):
        from osm_data_3d_tiles_spark.operators.zonal import overlay_area_join

        rects = spark.createDataFrame(
            [(1, 0.0, 0.0, 10.0, 10.0), (2, 95.0, 95.0, 105.0, 105.0)],
            "osm_id long, x0 double, y0 double, x1 double, y1 double",
        )
        zones = spark.createDataFrame(
            [(0, 0.0, 0.0, 100.0, 100.0), (1, 100.0, 100.0, 200.0, 200.0)],
            "zone_id long, zx0 double, zy0 double, zx1 double, zy1 double",
        )
        got = {(r.osm_id, r.zone_id): r.overlap_area_c
               for r in overlay_area_join(rects, zones).collect()}
        # rect 1 fully inside zone 0 (area 100 -> 10000c); rect 2 straddles:
        # 5x5=25 in each zone -> 2500c
        assert got == {(1, 0): 10000, (2, 0): 2500, (2, 1): 2500}

    def test_touching_edges_excluded(self, spark):
        from osm_data_3d_tiles_spark.operators.zonal import overlay_area_join

        rects = spark.createDataFrame([(1, 0.0, 0.0, 10.0, 10.0)],
            "osm_id long, x0 double, y0 double, x1 double, y1 double")
        zones = spark.createDataFrame([(0, 10.0, 0.0, 20.0, 10.0)],
            "zone_id long, zx0 double, zy0 double, zx1 double, zy1 double")
        assert overlay_area_join(rects, zones).count() == 0


class TestHeavyHitters:
    def test_exact_topk_matches_bruteforce(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters

        import numpy as np
        rng = np.random.RandomState(7)
        # zipf-ish: item i appears ~ 3000/i times
        items = [f"w{i:03d}" for i in range(1, 60) for _ in range(3000 // i)]
        rng.shuffle(items)
        df = spark.createDataFrame([(w,) for w in items], "item string").repartition(8)
        got = heavy_hitters(df, "item", k=10, capacity=64).toPandas()
        import collections
        exact = sorted(collections.Counter(items).items(),
                       key=lambda kv: (-kv[1], kv[0]))[:10]
        assert list(zip(got["item"], got["cnt"])) == exact

    def test_flat_corpus_raises(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters

        # 500 singletons, capacity 4: kth count 1 <= N/capacity = 125
        df = spark.createDataFrame([(f"u{i}",) for i in range(500)], "item string")
        with pytest.raises(ValueError, match="not provably exact"):
            heavy_hitters(df, "item", k=5, capacity=4)

    def test_candidate_summaries_bounded_and_carry_total(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import misra_gries_candidates

        df = spark.createDataFrame(
            [(f"v{i % 97}",) for i in range(2000)], "item string"
        ).repartition(4)
        summ = misra_gries_candidates(df, "item", capacity=16).toPandas()
        markers = summ[summ["item"].isnull()]
        assert markers["n_rows"].sum() == 2000
        # 97 distinct per partition > capacity 16 -> decrements must fire,
        # and the per-partition miss bound never exceeds n_p/capacity
        assert (markers["decremented"] > 0).all()
        assert (markers["decremented"] <= markers["n_rows"] / 16).all()
        per_part = summ[summ["item"].notnull()]
        # <= capacity candidates per partition (4 partitions)
        assert len(per_part) <= 16 * 4

    def test_exact_despite_decrements(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters

        import numpy as np
        rng = np.random.RandomState(11)
        # 20 heavy items x 500 + 3000 singletons: decrements fire at
        # capacity 64, but kth count (500) clears the miss bound (~N/64)
        items = [f"h{i:02d}" for i in range(20) for _ in range(500)]
        items += [f"s{i}" for i in range(3000)]
        rng.shuffle(items)
        df = spark.createDataFrame([(w,) for w in items], "item string").repartition(6)
        got = heavy_hitters(df, "item", k=20, capacity=64).toPandas()
        assert sorted(got["item"]) == [f"h{i:02d}" for i in range(20)]
        assert (got["cnt"] == 500).all()


class TestScd2:
    def test_episodes_and_suppression(self, spark):
        from osm_data_3d_tiles_spark.operators.scd import OPEN_END_EPOCH, scd2_from_events

        rows = [
            # user 1: a a b a  -> episodes a[10,30) b[30,40) a[40,open)
            (1, 10, "a", 100), (1, 20, "a", 101), (1, 30, "b", 102), (1, 40, "a", 103),
            # user 2: single observation -> one open episode
            (2, 15, "x", 200),
            # user 3: tie on ts broken by event_id -> b then a
            (3, 50, "a", 302), (3, 50, "b", 301),
        ]
        df = spark.createDataFrame(
            [(u, t, a, e) for u, t, a, e in rows],
            "user_id long, ts_epoch long, event_type string, event_id long",
        )
        got = {
            (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_from_events(df).collect()
        }
        assert got == {
            (1, "a", 10, 30, 0),
            (1, "b", 30, 40, 0),
            (1, "a", 40, OPEN_END_EPOCH, 1),
            (2, "x", 15, OPEN_END_EPOCH, 1),
            (3, "b", 50, 50, 0),  # event_id 301 sorts first at the tied ts
            (3, "a", 50, OPEN_END_EPOCH, 1),
        }

    def test_tie_break_order(self, spark):
        from osm_data_3d_tiles_spark.operators.scd import OPEN_END_EPOCH, scd2_from_events

        df = spark.createDataFrame(
            [(3, 50, "a", 302), (3, 50, "b", 301)],
            "user_id long, ts_epoch long, event_type string, event_id long",
        )
        eps = sorted(
            scd2_from_events(df).collect(), key=lambda r: (r.valid_from, r.event_type)
        )
        # event_id 301 ("b") sorts first at the tied ts, then 302 ("a")
        assert [(r.event_type, r.valid_from, r.valid_to, r.is_current) for r in eps] == [
            ("a", 50, OPEN_END_EPOCH, 1),
            ("b", 50, 50, 0),
        ]

    def test_null_attr_runs_collapse(self, spark):
        from osm_data_3d_tiles_spark.operators.scd import scd2_from_events

        df = spark.createDataFrame(
            [(1, 10, None, 1), (1, 20, None, 2), (1, 30, "a", 3)],
            "user_id long, ts_epoch long, event_type string, event_id long",
        )
        eps = scd2_from_events(df).collect()
        assert len(eps) == 2  # one NULL episode, one 'a' episode
        assert {r.event_type for r in eps} == {None, "a"}


class TestSpatialClusters:
    def test_matches_bruteforce_closure(self, spark):
        from osm_data_3d_tiles_spark.operators.cluster import spatial_clusters

        import numpy as np
        rng = np.random.RandomState(3)
        pts = [(int(i), float(x), float(y))
               for i, (x, y) in enumerate(rng.uniform(-50, 50, size=(150, 2)))]
        df = spark.createDataFrame(pts, "pid long, x double, y double")
        eps = 7.5
        got = {r.pid: r.cluster_id for r in spatial_clusters(df, eps).collect()}

        # brute-force union-find ground truth
        parent = list(range(150))
        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]; u = parent[u]
            return u
        for i, xi, yi in pts:
            for j, xj, yj in pts:
                if i < j and (xi-xj)**2 + (yi-yj)**2 <= eps*eps:
                    parent[find(j)] = find(i)
        comp = {}
        for i, _, _ in pts:
            comp.setdefault(find(i), []).append(i)
        want = {i: min(m) for m in comp.values() for i in m}
        assert got == want

    def test_chain_is_transitive_single_cluster(self, spark):
        from osm_data_3d_tiles_spark.operators.cluster import spatial_clusters

        # colinear chain spaced 0.9*eps: ends are 9 eps apart but connected
        df = spark.createDataFrame(
            [(i, i * 0.9, 0.0) for i in range(11)], "pid long, x double, y double"
        )
        got = spatial_clusters(df, 1.0).toPandas()
        assert (got["cluster_id"] == 0).all()

    def test_singletons_and_cell_boundary(self, spark):
        from osm_data_3d_tiles_spark.operators.cluster import spatial_clusters

        # 0 and 1 straddle the x=10 grid line at distance exactly eps (joined,
        # <=); 2 is isolated and must still appear as its own cluster
        df = spark.createDataFrame(
            [(0, 9.5, 0.0), (1, 19.5, 0.0), (2, 100.0, 100.0)],
            "pid long, x double, y double",
        )
        got = {r.pid: r.cluster_id for r in spatial_clusters(df, 10.0).collect()}
        assert got == {0: 0, 1: 0, 2: 2}

    def test_bad_eps(self, spark):
        from osm_data_3d_tiles_spark.operators.cluster import eps_neighbor_pairs

        df = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, x double, y double")
        with pytest.raises(ValueError, match="eps"):
            eps_neighbor_pairs(df, 0.0)


class TestSegmentZoneLength:
    def _run(self, spark, segs, zones):
        from osm_data_3d_tiles_spark.operators.zonal import segment_zone_length

        s = spark.createDataFrame(segs, "seg_id long, x0 double, y0 double, x1 double, y1 double")
        z = spark.createDataFrame(zones, "zone_id long, zx0 double, zy0 double, zx1 double, zy1 double")
        return {
            r.zone_id: (r.n_segments, r.length_sum_c)
            for r in segment_zone_length(s, z).collect()
        }

    def test_crossing_inside_outside(self, spark):
        zones = [(0, 0.0, 0.0, 10.0, 10.0)]
        segs = [
            (1, -5.0, 5.0, 15.0, 5.0),   # crosses: 10 inside
            (2, 2.0, 2.0, 5.0, 6.0),     # fully inside: 5 (3-4-5)
            (3, 20.0, 20.0, 30.0, 20.0), # outside
            (4, 5.0, -3.0, 5.0, 4.0),    # vertical, clipped at y=0: 4 inside
        ]
        got = self._run(spark, segs, zones)
        assert got == {0: (3, 1000 + 500 + 400)}

    def test_shared_edge_counts_for_both_zones(self, spark):
        zones = [(0, 0.0, 0.0, 10.0, 10.0), (1, 10.0, 0.0, 20.0, 10.0)]
        # lies exactly on the shared x=10 edge, length 6
        got = self._run(spark, [(1, 10.0, 2.0, 10.0, 8.0)], zones)
        assert got == {0: (1, 600), 1: (1, 600)}

    def test_diagonal_through_corner(self, spark):
        zones = [(0, 0.0, 0.0, 10.0, 10.0)]
        # diagonal from (-5,-5) to (5,5): inside from (0,0) to (5,5), len 5*sqrt(2)
        got = self._run(spark, [(1, -5.0, -5.0, 5.0, 5.0)], zones)
        import math
        assert got == {0: (1, int(math.floor(5 * math.sqrt(2) * 100 + 0.5)))}

    def test_degenerate_point_segment(self, spark):
        zones = [(0, 0.0, 0.0, 10.0, 10.0)]
        got = self._run(spark, [(1, 5.0, 5.0, 5.0, 5.0)], zones)
        assert got == {0: (1, 0)}  # counted, zero length


class TestHaversine:
    def test_known_city_pair(self, spark):
        from osm_data_3d_tiles_spark.functions.geodesic import haversine_sql

        df = spark.createDataFrame(
            [(2.3522, 48.8566, -0.1278, 51.5074)],  # Paris -> London
            "lon1 double, lat1 double, lon2 double, lat2 double",
        ).select(F.expr(haversine_sql("lon1", "lat1", "lon2", "lat2")).alias("d"))
        d = df.first()["d"]
        assert abs(d - 343_556) < 500  # published haversine figure ~343.5 km

    def test_symmetry_and_zero(self, spark):
        from osm_data_3d_tiles_spark.functions.geodesic import haversine_sql

        df = spark.createDataFrame(
            [(10.0, 20.0, -30.0, 45.0)],
            "lon1 double, lat1 double, lon2 double, lat2 double",
        )
        fwd = df.select(F.expr(haversine_sql("lon1", "lat1", "lon2", "lat2")).alias("d")).first()["d"]
        rev = df.select(F.expr(haversine_sql("lon2", "lat2", "lon1", "lat1")).alias("d")).first()["d"]
        assert fwd == rev > 0
        zero = df.select(F.expr(haversine_sql("lon1", "lat1", "lon1", "lat1")).alias("d")).first()["d"]
        assert zero == 0.0

    def test_antipodal_clamped(self, spark):
        from osm_data_3d_tiles_spark.functions.geodesic import EARTH_RADIUS_M, haversine_sql

        import math
        df = spark.createDataFrame(
            [(0.0, 0.0, 180.0, 0.0)],
            "lon1 double, lat1 double, lon2 double, lat2 double",
        ).select(F.expr(haversine_sql("lon1", "lat1", "lon2", "lat2")).alias("d"))
        assert abs(df.first()["d"] - math.pi * EARTH_RADIUS_M) < 1.0


class TestNewJoinPlanShapes:
    """Executed-plan pins: the join strategy IS the scale contract for these
    operators — a regression to a shuffled or loop plan is a perf bug even
    when results stay correct."""

    def _rects(self, spark):
        return spark.range(1000).selectExpr(
            "id as osm_id", "cast(id%100 as double) as x0",
            "cast(id%97 as double) as y0",
            "cast(id%100+5 as double) as x1", "cast(id%97+5 as double) as y1")

    def _zones(self, spark):
        return spark.range(25).selectExpr(
            "id as zone_id", "cast(id%5*20 as double) as zx0",
            "cast(id div 5*20 as double) as zy0",
            "cast(id%5*20+20 as double) as zx1",
            "cast((id div 5)*20+20 as double) as zy1")

    def test_overlay_broadcasts_dim_and_never_shuffles_fact(self, spark):
        from osm_data_3d_tiles_spark.operators.zonal import overlay_area_join

        plan = overlay_area_join(self._rects(spark), self._zones(spark)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan  # non-equi vs a tiny dim: OK
        assert "Exchange hashpartitioning" not in plan

    def test_seglen_single_exchange_is_the_zone_agg(self, spark):
        from osm_data_3d_tiles_spark.operators.zonal import segment_zone_length

        segs = self._rects(spark).selectExpr("osm_id as seg_id", "x0", "y0", "x1", "y1")
        plan = segment_zone_length(segs, self._zones(spark)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan
        shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert len(shuffles) == 1 and "zone_id" in shuffles[0]

    def test_interval_join_is_hash_not_loop(self, spark):
        from osm_data_3d_tiles_spark.operators.interval import bucketed_range_join

        ev = spark.range(10000).selectExpr("id as event_id", "id*13 % 100000 as ts_epoch")
        wins = spark.range(25).selectExpr(
            "id as window_id", "id*1800 as start_epoch", "id*1800+2700 as end_epoch")
        plan = bucketed_range_join(ev, wins, bucket_s=2700) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "HashJoin" in plan  # broadcast or shuffled hash -- never a loop


class TestMorton:
    def test_roundtrip_against_python(self, spark):
        from osm_data_3d_tiles_spark.functions.morton import morton_decode, morton_sql

        import numpy as np
        rng = np.random.RandomState(13)
        xs = rng.randint(0, 1 << 31, size=500).tolist()
        ys = rng.randint(0, 1 << 31, size=500).tolist()
        df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
        keys = [r.k for r in df.select(F.expr(morton_sql("x", "y")).alias("k")).collect()]
        assert all(k >= 0 for k in keys)
        for x, y, k in zip(xs, ys, keys):
            assert morton_decode(k) == (x, y)

    def test_locality_order_matches_unit_squares(self, spark):
        from osm_data_3d_tiles_spark.functions.morton import morton_sql

        # the 2x2 block z pattern: (0,0) (1,0) (0,1) (1,1) -> 0 1 2 3
        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1)], "x long, y long"
        )
        got = {(r.x, r.y): r.k for r in df.select("x", "y", F.expr(morton_sql("x", "y")).alias("k")).collect()}
        assert got == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3}

    def test_sql_fragment_matches_duckdb(self, spark):
        from osm_data_3d_tiles_spark.functions.morton import morton_sql

        import duckdb
        expr = morton_sql("x", "y")
        rows = [(i * 77773 % (1 << 31), i * 104729 % (1 << 31)) for i in range(2000)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = [r.k for r in df.selectExpr(f"{expr} as k").orderBy("x").collect()]
        want = [r[0] for r in duckdb.connect().execute(
            "SELECT " + expr + " FROM (SELECT (range * 77773) % 2147483648 AS x, "
            "(range * 104729) % 2147483648 AS y FROM range(0, 2000)) ORDER BY x"
        ).fetchall()]
        assert got == want


class TestReviewFixes:
    """Regression pins for the round-3 self-review findings."""

    def test_interval_outer_join_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.interval import bucketed_range_join

        df = spark.createDataFrame([(1, 1)], "event_id long, ts_epoch long")
        w = spark.createDataFrame([(1, 0, 10)],
                                  "window_id long, start_epoch long, end_epoch long")
        with pytest.raises(ValueError, match="outer"):
            bucketed_range_join(df, w, how="full")

    def test_interval_degenerate_window_dropped_cheaply(self, spark):
        from osm_data_3d_tiles_spark.operators.interval import bucketed_range_join

        ev = spark.createDataFrame([(1, 500)], "event_id long, ts_epoch long")
        # end <= start: matchable by nothing; must not explode a descending
        # bucket sequence (pre-fix this produced a 555k-element array)
        w = spark.createDataFrame(
            [(1, 2_000_000_000, 0), (2, 0, 1000)],
            "window_id long, start_epoch long, end_epoch long",
        )
        got = bucketed_range_join(ev, w, bucket_s=3600).select("window_id").collect()
        assert [r.window_id for r in got] == [2]

    def test_heavy_hitters_null_items_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters

        df = spark.createDataFrame(
            [("a",)] * 5 + [(None,)] * 10 + [("b",)] * 3, "item string"
        )
        with pytest.raises(ValueError, match="NULL items"):
            heavy_hitters(df, "item", k=2, capacity=64)

    def test_compact_layout_empty_dir_raises(self, spark, tmp_path):
        from osm_data_3d_tiles_spark.sinks.layout import compact_layout

        src = tmp_path / "nothing"
        src.mkdir()
        with pytest.raises(ValueError, match="no local parquet bytes"):
            compact_layout(spark, str(src), str(tmp_path / "out"))


class TestPpsSample:
    def test_selection_probability_and_spread(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import pps_systematic_sample

        # 1000 rows of weight 10 -> total 10000; step 100 -> exactly 100 picks,
        # evenly spread: one per consecutive block of 10 rows
        df = spark.createDataFrame(
            [(i, 10) for i in range(1000)], "doc_id long, w long"
        )
        got = pps_systematic_sample(df, "w", "doc_id", step=100).collect()
        ids = sorted(r.doc_id for r in got)
        assert len(ids) == 100
        # systematic spread: exactly one pick in each block of 10
        assert all(b * 10 <= i < (b + 1) * 10 for b, i in enumerate(ids))

    def test_heavy_row_always_selected(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import pps_systematic_sample

        # one row heavier than step is guaranteed in (it must cross a boundary)
        rows = [(i, 1) for i in range(50)] + [(99, 1000)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        got = {r.doc_id for r in pps_systematic_sample(df, "w", "doc_id", step=200).collect()}
        assert 99 in got

    def test_bad_step(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import pps_systematic_sample

        df = spark.createDataFrame([(1, 1)], "doc_id long, w long")
        with pytest.raises(ValueError, match="step"):
            pps_systematic_sample(df, "w", "doc_id", step=0)


class TestQuantilesByValue:
    def test_matches_sort_based_operator(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import (
            exact_quantiles,
            exact_quantiles_by_value,
        )

        import numpy as np
        rng = np.random.RandomState(21)
        rows = [(int(g), int(v), int(i))
                for i, (g, v) in enumerate(zip(rng.randint(0, 4, 3000),
                                               rng.randint(0, 50, 3000)))]
        df = spark.createDataFrame(rows, "g long, v long, id long")
        a = {r.g: (r.n, r.median, r.p90)
             for r in exact_quantiles(df, "v", "g", "id").collect()}
        b = {r.g: (r.n, r.median, r.p90)
             for r in exact_quantiles_by_value(df, "v", "g").collect()}
        assert a == b

    def test_single_value_group(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import exact_quantiles_by_value

        df = spark.createDataFrame([(1, 7), (1, 7), (1, 7)], "g long, v long")
        r = exact_quantiles_by_value(df, "v", "g").first()
        assert (r.n, r.median, r.p90) == (3, 7, 7)


class TestHeavyHittersByGroup:
    def test_exact_per_group_topk(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters_by_group

        import collections
        import numpy as np
        rng = np.random.RandomState(17)
        rows = []
        for g in ("en", "fr"):
            for i in range(1, 40):
                reps = (3000 if g == "en" else 1000) // i
                rows += [(g, f"{g}_w{i:02d}")] * reps
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "group string, item string").repartition(8)
        got = heavy_hitters_by_group(df, "item", k=5, capacity=64).toPandas()
        for g in ("en", "fr"):
            exact = sorted(
                collections.Counter(w for gg, w in rows if gg == g).items(),
                key=lambda kv: (-kv[1], kv[0]))[:5]
            sub = got[got["group"] == g].sort_values("rank")
            assert list(zip(sub["item"], sub["cnt"])) == exact
            assert list(sub["rank"]) == [1, 2, 3, 4, 5]

    def test_flat_group_raises_named(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters_by_group

        rows = [("hot", "x")] * 500 + [("flat", f"u{i}") for i in range(400)]
        df = spark.createDataFrame(rows, "group string, item string").repartition(4)
        with pytest.raises(ValueError, match="flat"):
            heavy_hitters_by_group(df, "item", k=3, capacity=4)

    def test_null_items_named_group(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters_by_group

        df = spark.createDataFrame(
            [("en", "a"), ("en", None), ("fr", "b")], "group string, item string"
        )
        with pytest.raises(ValueError, match="NULL items in groups"):
            heavy_hitters_by_group(df, "item", k=2, capacity=8)


class TestReviewFixesRound2:
    def test_grouped_hh_null_group_key_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters_by_group

        df = spark.createDataFrame(
            [(None, "x")] * 5 + [("en", "a")] * 3, "group string, item string"
        )
        with pytest.raises(ValueError, match="NULL group key"):
            heavy_hitters_by_group(df, "item", k=1, capacity=8)

    def test_quantiles_by_value_null_values_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import exact_quantiles_by_value

        df = spark.createDataFrame(
            [(1, None), (1, None), (1, 5)], "g long, v long"
        )
        with pytest.raises(Exception, match="NULL values"):
            exact_quantiles_by_value(df, "v", "g").collect()

    def test_pps_null_and_negative_weight_raise(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import pps_systematic_sample

        bad_null = spark.createDataFrame([(1, None), (2, 5)], "doc_id long, w long")
        with pytest.raises(Exception, match="NULL/negative weight"):
            pps_systematic_sample(bad_null, "w", "doc_id", step=3).collect()
        bad_neg = spark.createDataFrame([(1, -4), (2, 5)], "doc_id long, w long")
        with pytest.raises(Exception, match="NULL/negative weight"):
            pps_systematic_sample(bad_neg, "w", "doc_id", step=3).collect()


class TestApplyChanges:
    def _target(self, spark):
        return spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id long, v long"
        )

    def test_merge_semantics(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import apply_changes

        changes = spark.createDataFrame(
            [("U", 2, 99), ("D", 3, 0), ("I", 4, 40)],
            "op string, id long, v long",
        )
        got = {r.id: r.v for r in apply_changes(self._target(spark), changes, "id").collect()}
        assert got == {1: 10, 2: 99, 4: 40}

    def test_roundtrip_with_snapshot_diff(self, spark):
        """diff(old, new) fed back through apply_changes(old) must
        reproduce new — the two operators are inverses."""
        from osm_data_3d_tiles_spark.operators.reconcile import apply_changes, snapshot_diff

        old = self._target(spark)
        new = spark.createDataFrame([(1, 10), (2, 21), (5, 50)], "id long, v long")
        d = snapshot_diff(old, new, "id", "v")
        changes = d.select(
            F.when(F.col("change_type") == "inserted", "I")
            .when(F.col("change_type") == "deleted", "D")
            .otherwise("U").alias("op"),
            "id",
            F.col("new_value").alias("v"),
        )
        got = {r.id: r.v for r in apply_changes(old, changes, "id").collect()}
        assert got == {r.id: r.v for r in new.collect()}

    def test_duplicate_keys_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import apply_changes

        changes = spark.createDataFrame(
            [("U", 2, 99), ("D", 2, 0)], "op string, id long, v long"
        )
        with pytest.raises(ValueError, match="one change per key"):
            apply_changes(self._target(spark), changes, "id")

    def test_bad_op_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import apply_changes

        changes = spark.createDataFrame([("X", 2, 99)], "op string, id long, v long")
        with pytest.raises(ValueError, match="I/U/D"):
            apply_changes(self._target(spark), changes, "id")


class TestSpatialClustersSkew:
    def test_hot_cell_still_exact(self, spark):
        """Dense-city skew: 600 points inside ONE eps-cell (the worst join
        key) plus a sparse far field — the quadratic hot-cell candidate
        blowup must neither lose pairs nor produce wrong labels."""
        from osm_data_3d_tiles_spark.operators.cluster import spatial_clusters

        import numpy as np
        rng = np.random.RandomState(31)
        hot = [(int(i), float(x), float(y))
               for i, (x, y) in enumerate(rng.uniform(0, 4.9, size=(600, 2)))]
        far = [(1000 + i, 1000.0 + 20.0 * i, 1000.0) for i in range(30)]
        df = spark.createDataFrame(hot + far, "pid long, x double, y double")
        got = {r.pid: r.cluster_id for r in spatial_clusters(df, 5.0).collect()}
        # the hot cell is one transitive cluster (every pair within a 4.9-box
        # is within eps=5 of SOME chain) — min id 0 labels all 600
        assert all(got[i] == 0 for i, _, _ in hot)
        # far-field points are 20 apart: all singletons
        assert all(got[p] == p for p, _, _ in far)


class TestApplyChangesNulls:
    def test_null_op_refused_not_silent_delete(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import apply_changes

        target = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
        # three-valued logic would let NULL op slip past ~isin() and act as
        # a silent delete of key 2 -- pinned to raise instead
        changes = spark.createDataFrame([(None, 2, 99)], "op string, id long, v long")
        with pytest.raises(ValueError, match="op not in I/U/D"):
            apply_changes(target, changes, "id")

    def test_null_key_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.reconcile import apply_changes

        target = spark.createDataFrame([(1, 10)], "id long, v long")
        changes = spark.createDataFrame([("U", None, 99)], "op string, id long, v long")
        with pytest.raises(ValueError, match="NULL id"):
            apply_changes(target, changes, "id")


class TestSkyline:
    def test_matches_bruteforce(self, spark):
        from osm_data_3d_tiles_spark.operators.skyline import skyline

        import numpy as np
        rng = np.random.RandomState(41)
        pts = [(int(i), int(a), int(b), int(c))
               for i, (a, b, c) in enumerate(rng.randint(0, 40, size=(500, 3)))]
        df = spark.createDataFrame(pts, "id long, a long, b long, c long").repartition(8)
        got = {r.id for r in skyline(df, ["a", "b", "c"]).collect()}
        want = set()
        for i, a, b, c in pts:
            dominated = any(
                (x >= a and y >= b and z >= c) and (x > a or y > b or z > c)
                for j, x, y, z in pts if j != i
            )
            if not dominated:
                want.add(i)
        assert got == want

    def test_duplicates_all_survive(self, spark):
        from osm_data_3d_tiles_spark.operators.skyline import skyline

        df = spark.createDataFrame(
            [(1, 5, 5), (2, 5, 5), (3, 1, 1)], "id long, a long, b long"
        )
        got = {r.id for r in skyline(df, ["a", "b"]).collect()}
        assert got == {1, 2}

    def test_null_criterion_raises(self, spark):
        from osm_data_3d_tiles_spark.operators.skyline import skyline

        df = spark.createDataFrame([(1, None, 5)], "id long, a long, b long")
        with pytest.raises(Exception, match="NULL criterion"):
            skyline(df, ["a", "b"]).collect()

    def test_no_criteria_raises(self, spark):
        from osm_data_3d_tiles_spark.operators.skyline import skyline

        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="at least one"):
            skyline(df, [])


class TestRound4AdviceFixes:
    """Regression pins for the round-3 ADVICE items."""

    def test_heavy_hitters_k_zero_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters

        df = spark.createDataFrame([("a",)] * 3, "item string")
        with pytest.raises(ValueError, match="k must be >= 1"):
            heavy_hitters(df, "item", k=0, capacity=64)

    def test_grouped_hh_k_zero_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters_by_group

        df = spark.createDataFrame([("en", "a")] * 3, "group string, item string")
        with pytest.raises(ValueError, match="k must be >= 1"):
            heavy_hitters_by_group(df, "item", k=0, capacity=64)

    def test_grouped_hh_max_groups_refused(self, spark):
        from osm_data_3d_tiles_spark.operators.sketches import heavy_hitters_by_group

        df = spark.createDataFrame(
            [(f"g{i}", "a") for i in range(10)], "group string, item string"
        )
        with pytest.raises(ValueError, match="exceeds max_groups"):
            heavy_hitters_by_group(df, "item", k=1, capacity=64, max_groups=5)
        # at the bound it runs fine
        got = heavy_hitters_by_group(
            df, "item", k=1, capacity=64, max_groups=10
        ).toPandas()
        assert len(got) == 10

class TestAnnTwoPhaseTopkPlans:
    """Round-4 plan pins: no reducer may materialize a whole probe set — a
    per-partition mapInPandas top-k MUST pre-aggregate ahead of every global
    per-query window, and the IVF-PQ rerank join must broadcast the shortlist
    (never sort-merge the full corpus)."""

    def _emb(self, spark, n=200, d=8):
        rows = [(i, [float((i * 7 + j * 13) % 19 - 9) for j in range(d)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _q(self, spark, d=8):
        rows = [(i, [float((i * 5 + j * 3) % 17 - 8) for j in range(d)]) for i in range(3)]
        return spark.createDataFrame(rows, "query_id long, query_vec array<double>")

    def test_bruteforce_prunes_before_window(self, spark):
        from osm_data_3d_tiles_spark.operators.similarity import ann_bruteforce_topk

        df = ann_bruteforce_topk(self._emb(spark), self._q(spark), k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan  # the local top-k stage
        assert "Window" in plan
        # executedPlan prints root-first: the window must sit ABOVE the
        # pre-aggregation (i.e. consume its output), not directly on the scan
        assert plan.index("Window") < plan.index("MapInPandas")

    def test_ivf_prunes_before_window(self, spark):
        from osm_data_3d_tiles_spark.operators.similarity import ann_ivf_topk

        df = ann_ivf_topk(self._emb(spark), self._q(spark), k=5, n_list=4, n_probe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        windows = [l for l in plan.splitlines() if "Window" in l and "rank" in l]
        assert windows, plan
        assert plan.count("MapInPandas") >= 2  # assign stage + local top-k stage
        assert plan.index("Window") < plan.rindex("MapInPandas")

    def test_pq_rerank_broadcasts_shortlist(self, spark):
        from osm_data_3d_tiles_spark.operators.similarity import ann_ivf_pq_topk

        df = ann_ivf_pq_topk(
            self._emb(spark), self._q(spark), k=3,
            n_list=4, n_probe=2, m_sub=4, n_codes=8, refine=2,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_two_phase_equals_single_window(self, spark):
        """Semantics pin: the pre-aggregation never changes the result."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from osm_data_3d_tiles_spark.operators.similarity import (
            _cosine_col,
            _unit_col,
            ann_bruteforce_topk,
        )

        emb, q = self._emb(spark), self._q(spark)
        got = ann_bruteforce_topk(emb, q, k=7).toPandas()
        base = emb.select("vec_id", _unit_col(F.col("embedding")).alias("unit"))
        qs = q.select("query_id", _unit_col(F.col("query_vec")).alias("q_unit"))
        scored = base.crossJoin(qs).withColumn(
            "cosine", _cosine_col(F.col("unit"), F.col("q_unit"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
        want = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 7)
            .select("query_id", "rank", "vec_id", "cosine")
            .toPandas()
        )
        key = ["query_id", "rank"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert got[["query_id", "rank", "vec_id"]].equals(want[["query_id", "rank", "vec_id"]])
        assert (got["cosine"] - want["cosine"]).abs().max() < 1e-12


class TestIvfProbeJoinPinned:
    """Round-5 plan pin (VERDICT r4 'What's wrong' #2): the IVF-flat probe
    join keys on list_id (n_list distinct values) — a sort-merge fallback
    there shuffles the whole assigned corpus onto a handful of keys. The
    probes side must ride a pinned BroadcastExchange, mirroring the PQ path."""

    def test_ivf_probe_join_never_sort_merge(self, spark):
        from osm_data_3d_tiles_spark.operators.similarity import ann_ivf_topk

        emb = spark.createDataFrame(
            [(i, [float((i * 7 + j * 13) % 19 - 9) for j in range(8)]) for i in range(200)],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(i, [float((i * 5 + j * 3) % 17 - 8) for j in range(8)]) for i in range(3)],
            "query_id long, query_vec array<double>",
        )
        df = ann_ivf_topk(emb, q, k=5, n_list=4, n_probe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan


class TestKnnFallbackBounded:
    """Round-5 (VERDICT r4 'What's wrong' #1): the past-max_ring kNN fallback
    must never broadcast the centroid table — only the small unfinished-query
    set may ride a BroadcastExchange, with a mapInPandas local top-k
    pre-aggregating ahead of the global per-query window."""

    def _data(self, spark):
        cents = spark.createDataFrame(
            [(i, float(i % 13) * 10.0, float(i % 7) * 10.0) for i in range(300)],
            "osm_id long, cx double, cy double",
        )
        # probes far outside the populated region — the empty-region case the
        # fallback exists for
        queries = spark.createDataFrame(
            [(1, 1.0e7, 1.0e7, 3), (2, -1.0e7, 5.0e6, 2)],
            "query_id long, x double, y double, k int",
        )
        return queries, cents

    def test_scan_matches_bruteforce(self, spark):
        from osm_data_3d_tiles_spark.operators.knn import (
            knn_bruteforce,
            knn_bruteforce_scan,
        )

        queries, cents = self._data(spark)
        key = ["query_id", "rank"]
        brute = knn_bruteforce(queries, cents).toPandas().sort_values(key).reset_index(drop=True)
        scan = knn_bruteforce_scan(queries, cents).toPandas().sort_values(key).reset_index(drop=True)
        assert brute[["query_id", "rank", "osm_id"]].equals(scan[["query_id", "rank", "osm_id"]])
        assert (brute["dist2"] - scan["dist2"]).abs().max() < 1e-9

    def test_scan_broadcasts_queries_not_centroids(self, spark):
        from osm_data_3d_tiles_spark.operators.knn import knn_bruteforce_scan

        queries, cents = self._data(spark)
        df = knn_bruteforce_scan(queries, cents)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        bx = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
        assert bx, plan
        for i in bx:
            # direct child of the exchange = the relation being broadcast;
            # it must be the query set (query_id), never the centroid table
            child = lines[i + 1]
            assert "query_id" in child and "cx" not in child, plan
        # two-phase pin: local top-k pre-aggregation feeds the global window
        assert "MapInPandas" in plan
        assert plan.index("Window") < plan.index("MapInPandas"), plan

    def test_kring_fallback_path_matches_bruteforce(self, spark):
        """Force every query through the fallback (max_ring=1 over a sparse
        region) and pin output parity with the oracle."""
        from osm_data_3d_tiles_spark.operators.knn import (
            knn_bruteforce,
            knn_kring,
        )

        queries, cents = self._data(spark)
        key = ["query_id", "rank"]
        brute = knn_bruteforce(queries, cents).toPandas().sort_values(key).reset_index(drop=True)
        got = (
            knn_kring(queries, cents, initial_ring=1, max_ring=1)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        assert brute[["query_id", "rank", "osm_id"]].equals(got[["query_id", "rank", "osm_id"]])


class TestRealPngDecode:
    """Round-4: PNG payloads decode FOR REAL through the multimodal stages
    (pure-numpy reader); only non-PNG formats remain stubbed."""

    def test_decode_image_real_png(self, spark):
        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_image_real,
            make_png_media_fixture,
        )

        rows = make_png_media_fixture(spark, 4).collect()
        for r in rows:
            img = decode_image_real(bytes(r.payload))
            assert img.shape == (r.meta.height, r.meta.width, 3)
            # gradient pattern: pixel (0, 1) red channel = (1*7 + id*13) % 256
            assert img[0, 1, 0] == (7 + r.media_id * 13) % 256

    def test_decode_pixels_unsupported_png_falls_back(self):
        """Round-4 ADVICE: a payload carrying the PNG magic but an unsupported
        variant (here: truncated garbage) must degrade to the stub, never
        raise out of the Arrow stage."""
        from osm_data_3d_tiles_spark.operators.multimodal import (
            PNG_MAGIC,
            decode_pixels,
            decode_pixels_stub,
        )

        bad = PNG_MAGIC + b"\x00\x00\x00\x0dIHDR" + b"\x07" * 20
        got = decode_pixels(bad, 6, 4)
        assert got.shape == (4, 6, 3)
        assert np.array_equal(got, decode_pixels_stub(bad, 6, 4))

    def test_decode_image_real_unknown_format_raises(self):
        from osm_data_3d_tiles_spark.operators.multimodal import decode_image_real

        # a truly unknown format → NotImplementedError
        with pytest.raises(NotImplementedError, match="decode in-sandbox"):
            decode_image_real(b"????unknown-format-bytes")
        # WebP now dispatches to the real VP8L decoder (round-5); a lossy
        # VP8 payload is refused with ValueError (decode_pixels → stub)
        with pytest.raises(ValueError, match="lossy VP8|VP8L"):
            decode_image_real(
                b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00"
            )
        # a JPEG-magic payload now dispatches to the real decoder, which
        # refuses garbage with ValueError (decode_pixels degrades to stub)
        with pytest.raises(ValueError):
            decode_image_real(b"\xff\xd8\xff\xe0 fake jpeg bytes")

    def test_resize_images_real_path(self, spark):
        import numpy as np

        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_image_real,
            make_png_media_fixture,
            resize_images,
            resize_nearest,
        )

        media = make_png_media_fixture(spark, 6)
        out = {r.media_id: r for r in resize_images(media, 5, 4).collect()}
        assert len(out) == 6
        for r in media.collect():
            src = decode_image_real(bytes(r.payload))
            want = resize_nearest(src, 5, 4)
            got = np.frombuffer(bytes(out[r.media_id].payload), dtype=np.uint8).reshape(4, 5, 3)
            assert np.array_equal(got, want), r.media_id

    def test_stub_path_unchanged_for_non_png(self, spark):
        """The existing (non-PNG) fixture keeps its pinned stub behavior —
        the golden oracle for multimodal_resize depends on it."""
        import hashlib

        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_pixels,
            decode_pixels_stub,
            make_media_fixture,
        )

        r = make_media_fixture(spark, 3).collect()[0]
        a = decode_pixels(bytes(r.payload), r.meta.width, r.meta.height)
        b = decode_pixels_stub(bytes(r.payload), r.meta.width, r.meta.height)
        import numpy as np
        assert np.array_equal(a, b)


def _tiff_gray_1x1(big_endian: bool) -> bytes:
    """Uncompressed 8-bit grayscale 1x1 baseline TIFF: one IFD, one strip."""
    e = ">" if big_endian else "<"
    tags = [  # (tag, SHORT=3 | LONG=4, value)
        (256, 3, 1), (257, 3, 1), (258, 3, 8), (259, 3, 1), (262, 3, 1),
        (273, 4, 0), (277, 3, 1), (278, 3, 1), (279, 4, 1),
    ]
    strip = 8 + 2 + 12 * len(tags) + 4
    ifd = struct.pack(e + "H", len(tags))
    for tag, typ, val in tags:
        val = strip if tag == 273 else val
        packed = struct.pack(e + "H2x", val) if typ == 3 else struct.pack(e + "I", val)
        ifd += struct.pack(e + "HHI", tag, typ, 1) + packed
    head = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(e + "I", 8)
    return head + ifd + b"\x00\x00\x00\x00" + b"\x80"


def _dib_header_1x1(height: int) -> bytes:
    """40-byte BITMAPINFOHEADER of a 1-pixel-wide 24-bpp uncompressed DIB."""
    return struct.pack("<IiiHHIIiiII", 40, 1, height, 1, 24, 0, 0, 0, 0, 0, 0)


def _bmp_24bpp_1x1() -> bytes:
    """1x1 24-bpp BMP: file header, BITMAPINFOHEADER, one padded BGR row."""
    pixels = b"\x10\x20\x30\x00"
    return b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54) + _dib_header_1x1(1) + pixels


def _ico_one_entry() -> bytes:
    """One-entry ICO: a 1x1 24-bpp DIB (height doubled for the AND mask)."""
    dib = _dib_header_1x1(2) + b"\x10\x20\x30\x00" + b"\x00" * 4
    entry = struct.pack("<BBBBHHII", 1, 1, 0, 0, 1, 24, len(dib), 6 + 16)
    return b"\x00\x00\x01\x00" + struct.pack("<H", 1) + entry + dib


def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def _u24(v: int) -> bytes:
    return v.to_bytes(3, "little")


def _webp_animated_one_frame() -> bytes:
    """VP8X (animation flag) + ANIM + one ANMF around the VP8L chunk of an
    `encode_webp` file: the file has no top-level VP8L chunk."""
    from osm_data_3d_tiles_spark.functions.webp import encode_webp

    vp8l_chunk = encode_webp(np.full((2, 2, 3), 90, np.uint8))[12:]
    anmf = _u24(0) + _u24(0) + _u24(1) + _u24(1) + _u24(100) + b"\x00" + vp8l_chunk
    body = (
        b"WEBP"
        + _riff_chunk(b"VP8X", b"\x02\x00\x00\x00" + _u24(1) + _u24(1))
        + _riff_chunk(b"ANIM", b"\x00" * 6)
        + _riff_chunk(b"ANMF", anmf)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestUnsupportedImageFormats:
    """Only PNG, baseline JPEG and still lossless WebP decode in-sandbox.
    Well-formed BMP, ICO, GIF and TIFF files have no reader: the real decoder
    refuses them as unknown formats. An animated WebP has a known magic but no
    top-level VP8L chunk, so it is refused as a stream. Either way the resize
    path gives them the same stub pixels as any other opaque payload."""

    @pytest.mark.parametrize(
        "payload",
        [
            # 1x1 GIF87a: 2-color table, LZW clear/0/end-of-information
            b"GIF87a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
            b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02\x44\x01\x00;",
            _tiff_gray_1x1(big_endian=False),
            _tiff_gray_1x1(big_endian=True),
            _bmp_24bpp_1x1(),
            _ico_one_entry(),
        ],
        ids=["gif87a", "tiff-le", "tiff-be", "bmp-24bpp", "ico-dib"],
    )
    def test_real_decode_refuses_and_pixels_fall_back_to_stub(self, payload):
        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_image_real,
            decode_pixels,
            decode_pixels_stub,
        )

        with pytest.raises(NotImplementedError, match="decode in-sandbox"):
            decode_image_real(payload)
        assert np.array_equal(decode_pixels(payload, 5, 3), decode_pixels_stub(payload, 5, 3))

    def test_animated_webp_refused_and_pixels_fall_back_to_stub(self):
        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_image_real,
            decode_pixels,
            decode_pixels_stub,
        )

        payload = _webp_animated_one_frame()
        with pytest.raises(ValueError, match="no VP8L chunk"):
            decode_image_real(payload)
        assert np.array_equal(decode_pixels(payload, 5, 3), decode_pixels_stub(payload, 5, 3))


class TestRound4ReviewFixes:
    """Regression pins for the round-4 self-review findings."""

    def test_ann_zero_vector_excluded_at_any_layout(self, spark):
        """An all-zero embedding has no defined cosine (NaN unit vector).
        NaN cannot round-trip through Arrow (pandas NaN -> NULL), so the only
        partition-layout-independent semantics is EXCLUSION: the row never
        appears in the top-k, at any parallelism, and the job does not abort
        under ANSI mode (explicit when-guard in _unit_col)."""
        from osm_data_3d_tiles_spark.operators.similarity import ann_bruteforce_topk

        rows = [(0, [0.0] * 8)] + [
            (i, [float((i * 7 + j) % 11 - 5) for j in range(8)]) for i in range(1, 40)
        ]
        q = spark.createDataFrame(
            [(1, [1.0] + [0.0] * 7)], "query_id long, query_vec array<double>"
        )
        results = []
        for parts in (1, 7):
            emb = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).repartition(parts)
            got = ann_bruteforce_topk(emb, q, k=3).orderBy("rank").toPandas()
            assert 0 not in set(got["vec_id"]), f"zero vector leaked at {parts} parts"
            assert len(got) == 3
            results.append(list(got["vec_id"]))
        assert results[0] == results[1]  # layout-independent

    def test_png_interlaced_refused(self):
        import struct
        import zlib

        import numpy as np

        from osm_data_3d_tiles_spark.functions.atlas import _png_chunk, decode_png

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 1)  # interlace=1
        raw = zlib.compress(b"\x00" + b"\x01" * 8)
        png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", raw) + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="interlaced"):
            decode_png(png)

    def test_png_invalid_filter_refused(self):
        import struct
        import zlib

        from osm_data_3d_tiles_spark.functions.atlas import _png_chunk, decode_png

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)
        raw = zlib.compress(b"\x07" + b"\x01" * 4)  # filter type 7
        png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", raw) + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="invalid scanline filter"):
            decode_png(png)

    def test_quantized_glb_empty_mesh_keeps_extension(self):
        import json as _json
        import struct

        import numpy as np

        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb, unpack_glb

        glb = pack_glb(
            np.empty(0, np.float32), np.empty(0, np.float32),
            np.empty(0, np.float32), np.empty(0, np.float32), quantize=True,
        )
        jlen = struct.unpack("<II", glb[12:20])[0]
        gltf = _json.loads(glb[20 : 20 + jlen])
        assert gltf["extensionsRequired"] == ["KHR_mesh_quantization"]
        out = unpack_glb(glb)
        assert out["quantized"] and len(out["position"]) == 0
        assert out["indices"] is None  # no mesh => no index accessor

    def test_faces_for_drops_foreign_holes(self):
        """Multi-outer multipolygon: a hole inside the SECOND outer must not
        poison the first outer's skeleton (it previously burned the whole
        retry ladder before flat-falling-back)."""
        import numpy as np

        from osm_data_3d_tiles_spark.functions.skeleton_roofs import _faces_for

        outer1 = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
        outer2 = np.array([[30, 0], [40, 0], [40, 10], [30, 10]], float)
        far_hole = np.array([[33, 3], [33, 7], [37, 7], [37, 3]], float)
        faces = _faces_for({
            "rings": [outer1, outer2, far_hole],
            "ring_types": ["outer", "outer", "inner"],
        })
        # outer1 skeletons cleanly with the foreign hole filtered out
        assert faces is not None and len(faces) == 4
        # a contained hole still rides along
        near_hole = np.array([[4, 4], [4, 6], [6, 6], [6, 4]], float)
        faces2 = _faces_for({
            "rings": [outer1, near_hole],
            "ring_types": ["outer", "inner"],
        })
        assert faces2 is not None and len(faces2) == 8


class TestExactSubstringDedup:
    """exact_substring_spans — suffix-array-style dedup (Lee et al. 2021)
    via content-defined md5-prefix window sampling (operators/dedup.py)."""

    @staticmethod
    def _python_reference(rows, window=40, prefix="0"):
        """Plain-Python restatement of the semantics over ALL windows."""
        import hashlib
        from collections import Counter, defaultdict

        per_doc: dict = defaultdict(Counter)
        for doc_id, text in rows:
            for i in range(len(text) - window + 1):
                win = text[i : i + window]
                h = hashlib.md5(win.encode()).hexdigest()
                if h.startswith(prefix):
                    per_doc[doc_id][h] += 1
        docs_per_key: Counter = Counter()
        for doc_id, keys in per_doc.items():
            for k in keys:
                docs_per_key[k] += 1
        dup_keys = {k for k, n in docs_per_key.items() if n >= 2}
        out = {}
        for doc_id, keys in per_doc.items():
            hit = {k: c for k, c in keys.items() if k in dup_keys}
            if hit:
                out[doc_id] = (len(hit), sum(hit.values()))
        return out

    def test_planted_span_found_offset_independently(self, spark):
        # the shared 200-char span sits at offset 0 in doc 1 and offset 57 in
        # doc 2 — content-defined sampling must pick the SAME anchors in both
        span = " ".join(f"tok{i % 23}word{i % 7}" for i in range(24))[:200]
        rows = [
            (1, span + " unique tail one " + "x" * 30),
            (2, "an unrelated fifty-seven character prefix padding here! " + span),
            (3, "completely different text with no shared windows at all " + "y" * 160),
        ]
        expected = self._python_reference(rows)
        assert set(expected) == {1, 2}, "fixture must plant a cross-doc span"
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from osm_data_3d_tiles_spark.operators.dedup import exact_substring_spans

        got = exact_substring_spans(df).toPandas().set_index("doc_id")
        assert set(got.index) == set(expected)
        for doc_id, (nw, nocc) in expected.items():
            assert got.loc[doc_id, "n_dup_windows"] == nw
            assert got.loc[doc_id, "n_dup_occurrences"] == nocc

    def test_matches_python_reference_on_random_corpus(self, spark):
        rng = np.random.default_rng(42)
        vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
        rows = []
        for doc_id in range(40):
            n = int(rng.integers(20, 60))
            rows.append((doc_id, " ".join(rng.choice(vocab, n))))
        expected = self._python_reference(rows)
        assert expected, "random small-vocab corpus should contain dup windows"
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from osm_data_3d_tiles_spark.operators.dedup import exact_substring_spans

        got = exact_substring_spans(df).toPandas().set_index("doc_id")
        assert set(got.index) == set(expected)
        for doc_id, (nw, nocc) in expected.items():
            assert got.loc[doc_id, "n_dup_windows"] == nw
            assert got.loc[doc_id, "n_dup_occurrences"] == nocc

    def test_short_docs_and_bad_prefix(self, spark):
        from osm_data_3d_tiles_spark.operators.dedup import exact_substring_spans

        df = spark.createDataFrame([(1, "short"), (2, "short")], ["doc_id", "text"])
        assert exact_substring_spans(df).count() == 0  # both below the window
        with pytest.raises(ValueError):
            exact_substring_spans(df, sample_hex_prefix="G")
        with pytest.raises(ValueError):
            exact_substring_spans(df, sample_hex_prefix="")


class TestSemDeDup:
    """semdedup — SemDeDup (Abbas et al. 2023) k-means + intra-cluster greedy
    cosine dedup (operators/similarity.py)."""

    @staticmethod
    def _python_reference(ids, vecs, threshold, n_clusters):
        """Plain-Python restatement: same deterministic centroids, same
        keep-lowest-centroid-similarity order, same upper-triangular rule."""
        from osm_data_3d_tiles_spark.operators.similarity import (
            _deterministic_centroids,
        )

        ids = np.asarray(ids)
        u = np.vstack(vecs).astype(np.float64)
        u = u / np.linalg.norm(u, axis=1, keepdims=True)
        # the operator STORES units as float32 (ANN scan-path convention) and
        # upcasts for scoring — replicate the narrowing round-trip exactly
        u = u.astype(np.float32).astype(np.float64)
        # centroid training sample: xxhash order — replicate by training on
        # everything when n <= 4096 is NOT the operator's sample order, so the
        # reference instead receives the operator's own centroids via the
        # caller; here we re-train on the full (sorted-by-id) set, which is
        # identical when the corpus fits one sample (the operator's
        # _deterministic_centroids sorts by id internally).
        cents = _deterministic_centroids(u, ids, n_clusters)
        assign = np.argmax(u @ cents.T, axis=1)
        out = {}
        for c in range(len(cents)):
            m = np.where(assign == c)[0]
            if not len(m):
                continue
            cs = u[m] @ cents[c]
            order = np.lexsort((ids[m], cs))
            mi, csi = m[order], cs[order]
            removed = np.zeros(len(mi), dtype=bool)
            for i in range(1, len(mi)):
                if (u[mi[i]] @ u[mi[:i]].T).max() >= threshold:
                    removed[i] = True
            for j, idx in enumerate(mi):
                out[int(ids[idx])] = (c, float(csi[j]), not removed[j])
        return out

    def test_matches_python_reference(self, spark):
        rng = np.random.default_rng(7)
        base = rng.normal(size=(60, 16))
        # plant 10 near-duplicates: tiny perturbations of the first 10 rows
        dups = base[:10] + rng.normal(scale=1e-3, size=(10, 16))
        vecs = np.vstack([base, dups])
        ids = np.arange(70)
        expected = self._python_reference(ids, vecs, threshold=0.95, n_clusters=4)
        assert sum(1 for _, (_, _, kept) in expected.items() if not kept) >= 10
        from osm_data_3d_tiles_spark.operators.similarity import semdedup

        df = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
            ["vec_id", "embedding"],
        )
        got = semdedup(df, threshold=0.95, n_clusters=4).toPandas().set_index("vec_id")
        assert len(got) == len(expected)
        for vid, (lid, cs, kept) in expected.items():
            assert got.loc[vid, "list_id"] == lid
            assert abs(got.loc[vid, "cent_sim"] - cs) < 1e-9
            assert bool(got.loc[vid, "is_kept"]) == kept

    def test_planted_pair_keeps_exactly_one(self, spark):
        from osm_data_3d_tiles_spark.operators.similarity import semdedup

        rng = np.random.default_rng(11)
        base = rng.normal(size=(30, 8))
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
        rows += [(100 + i, [float(x) for x in base[i]]) for i in range(5)]  # exact copies
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = semdedup(df, threshold=0.999, n_clusters=2).toPandas()
        for i in range(5):
            pair = out[out.vec_id.isin([i, 100 + i])]
            assert pair.is_kept.sum() == 1  # exactly one copy survives

    def test_guards(self, spark):
        from osm_data_3d_tiles_spark.operators.similarity import semdedup

        df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
        with pytest.raises(ValueError):
            semdedup(df, threshold=0.0)
        with pytest.raises(Exception, match="max_cluster"):
            semdedup(df.unionByName(df.select((F.col("vec_id") + 1).alias("vec_id"), "embedding")),
                     n_clusters=1, max_cluster=1).collect()


class TestLearnBpe:
    """learn_bpe — distributed BPE vocabulary learning (operators/bpe.py),
    exact-semantics parity with the classic Sennrich et al. algorithm."""

    @staticmethod
    def _python_reference(texts, num_merges, min_pair_count=2):
        import re
        from collections import Counter

        # ASCII whitespace only, like the engine's Java \s+ (see word_counts)
        words = Counter(w for t in texts for w in re.split(r"[ \t\n\x0b\f\r]+", t) if w)
        vocab = {tuple(list(w) + ["</w>"]): c for w, c in words.items()}
        merges = []
        for rank in range(num_merges):
            pairs = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += c
            if not pairs:
                break
            (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if n < min_pair_count:
                break
            merges.append((rank, l, r, n))
            newv = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                newv[tuple(out)] = newv.get(tuple(out), 0) + c
            vocab = newv
        return merges

    def test_matches_classic_bpe(self, spark):
        from osm_data_3d_tiles_spark.operators.bpe import learn_bpe

        texts = [
            "low lower lowest low low",
            "newer newest new newer wider wide",
            "the widest river flows lower and lower",
            # NBSP, EM SPACE and IDEOGRAPHIC SPACE are word characters
            "low\u00a0er new\u2003est wide\u3000r lower\u00a0new",
        ]
        expected = self._python_reference(texts, 10)
        assert len(expected) == 10
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
        got = [tuple(r) for r in learn_bpe(df, num_merges=10).collect()]
        assert got == expected

    def test_tie_break_is_lexicographic(self, spark):
        from osm_data_3d_tiles_spark.operators.bpe import learn_bpe

        # all four pairs (a,b) (b,a) (a,</w>) (b,</w>) appear exactly twice;
        # the lexicographic tie-break picks (a, </w>) — '<' sorts before 'b'
        df = spark.createDataFrame([(1, "ab ab ba ba")], ["doc_id", "text"])
        got = [tuple(r) for r in learn_bpe(df, num_merges=1).collect()]
        expected = self._python_reference(["ab ab ba ba"], 1)
        assert got == expected
        assert (got[0][1], got[0][2]) == ("a", "</w>")

    def test_early_stop_below_min_pair_count(self, spark):
        from osm_data_3d_tiles_spark.operators.bpe import learn_bpe

        # every word unique, every pair count 1 → zero merges learnable
        df = spark.createDataFrame([(1, "ax by cz")], ["doc_id", "text"])
        assert learn_bpe(df, num_merges=5).count() == 0
        with pytest.raises(ValueError):
            learn_bpe(df, num_merges=0)

    def test_fully_merged_word_survives_later_rounds(self, spark):
        from osm_data_3d_tiles_spark.operators.bpe import learn_bpe

        # 'a' collapses to the single symbol 'a</w>' after round 1; later
        # rounds must evaluate has_pair over that size-1 row without tripping
        # sequence(1, 0) → element_at(syms, 0)  (regression: round-5 review)
        texts = ["a a a a bc bc bc bd bd bd"]
        df = spark.createDataFrame([(1, texts[0])], ["doc_id", "text"])
        expected = self._python_reference(texts, 4)
        got = [tuple(r) for r in learn_bpe(df, num_merges=4).collect()]
        assert got == expected
        assert ("a", "</w>") in {(m[1], m[2]) for m in got}


class TestDsirSelect:
    """dsir_select — DSIR importance-resampling data selection (Xie et al.
    2023, operators/dsir.py), exact parity with a plain-Python reference."""

    @staticmethod
    def _python_reference(rows, target_ids, k, B=256):
        import hashlib
        import math
        import re
        from collections import Counter

        def buckets(text):
            # ASCII whitespace only, like the engine's Java \s+
            ws = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text) if w]
            grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
            return Counter(
                int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % B for g in grams
            )

        feats = {i: buckets(t) for i, t in rows}
        t_tot, r_tot = Counter(), Counter()
        for i, c in feats.items():
            (t_tot if i in target_ids else r_tot).update(c)
        tt, rt = sum(t_tot.values()), sum(r_tot.values())
        score = {
            b: math.log((t_tot.get(b, 0) + 1) / (tt + B))
            - math.log((r_tot.get(b, 0) + 1) / (rt + B))
            for b in range(B)
        }
        w = {
            i: sum(c * score[b] for b, c in feats[i].items())
            for i in feats
            if i not in target_ids
        }
        ranked = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(r + 1, i, lw) for r, (i, lw) in enumerate(ranked)]

    def test_matches_python_reference(self, spark):
        from osm_data_3d_tiles_spark.operators.dsir import dsir_select

        rng = np.random.default_rng(3)
        tvocab = ["data", "spark", "shuffle", "join", "plan"]
        rvocab = ["perro", "gato", "casa", "calle", "data", "join"]
        rows = []
        for i in range(20):  # target: tvocab-only docs
            rows.append((i, " ".join(rng.choice(tvocab, int(rng.integers(8, 20))))))
        for i in range(20, 60):  # raw: mixed-vocab docs, varying target-likeness
            mix = rng.integers(0, 2)
            v = tvocab if mix else rvocab
            rows.append((i, " ".join(rng.choice(v, int(rng.integers(8, 20))))))
        # NBSP, EM SPACE and IDEOGRAPHIC SPACE are word characters
        rows.append((60, "data\u00a0join spark\u2003plan plan shuffle\u3000join data"))
        expected = self._python_reference(rows, set(range(20)), k=15)
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = [
            (r["rank"], r["doc_id"], r["log_weight"])
            for r in dsir_select(df, F.col("doc_id") < 20, k=15).orderBy("rank").collect()
        ]
        assert len(got) == len(expected)
        for e, g in zip(expected, got):
            assert e[0] == g[0] and e[1] == g[1]
            assert abs(e[2] - g[2]) < 1e-9

    def test_target_docs_never_selected(self, spark):
        from osm_data_3d_tiles_spark.operators.dsir import dsir_select

        df = spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(10)], ["doc_id", "text"]
        )
        out = dsir_select(df, F.col("doc_id") < 5, k=100).toPandas()
        assert set(out["doc_id"]) == set(range(5, 10))

    def test_guards_and_short_docs(self, spark):
        from osm_data_3d_tiles_spark.operators.dsir import dsir_select, hashed_ngram_buckets

        df = spark.createDataFrame(
            [(1, "one"), (2, ""), (3, "two words")], ["doc_id", "text"]
        )
        # 0/1-word docs must not fabricate null grams (descending-sequence guard)
        b = hashed_ngram_buckets(df).toPandas()
        assert b["bucket"].notna().all()
        assert b.groupby("doc_id")["cnt"].sum().to_dict() == {1: 1, 3: 3}
        with pytest.raises(ValueError):
            dsir_select(df, F.col("doc_id") < 2, k=0)
        with pytest.raises(ValueError):
            hashed_ngram_buckets(df, n_buckets=0)


class TestMixDomains:
    """mix_domains — temperature-based domain resampling (operators/sampling.py)."""

    def test_sqrt_allocation_and_determinism(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import mix_domains

        # domains of size 100 / 25 / 4: sqrt weights 10 : 5 : 2 → of 17
        # requested docs, exact floor allocation is 10 / 5 / 2
        rows = (
            [(i, "big") for i in range(100)]
            + [(200 + i, "mid") for i in range(25)]
            + [(300 + i, "tiny") for i in range(4)]
        )
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = mix_domains(df, target_total=17).toPandas()
        got = out.groupby("source")["doc_id"].count().to_dict()
        assert got == {"big": 10, "mid": 5, "tiny": 2}
        out2 = mix_domains(df, target_total=17).toPandas()
        assert sorted(out["doc_id"]) == sorted(out2["doc_id"])

    def test_allocation_never_exceeds_domain_or_total(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import mix_domains

        rows = [(i, "a") for i in range(3)] + [(10 + i, "b") for i in range(300)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = mix_domains(df, target_total=100).toPandas()
        per = out.groupby("source")["doc_id"].count().to_dict()
        assert per.get("a", 0) <= 3  # can't select more than the domain holds
        assert len(out) <= 100
        # alpha < 1 upweights the small domain vs natural proportions
        assert per.get("a", 0) / max(len(out), 1) > 3 / 303

    def test_guards(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import mix_domains

        df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
        with pytest.raises(ValueError):
            mix_domains(df, target_total=0)
        with pytest.raises(ValueError):
            mix_domains(df, alpha=0.0)

    def test_large_alpha_does_not_overflow(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import mix_domains

        # alpha=2 on a 4000-row domain: unnormalized pow gave
        # 4000² · 1e12 = 1.6e19 > Long.MAX (ARITHMETIC_OVERFLOW under ANSI);
        # the max-normalized weights must allocate ~16:1 instead
        rows = [(i, "big") for i in range(4000)] + [
            (10_000 + i, "small") for i in range(1000)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = mix_domains(df, target_total=170, alpha=2.0).toPandas()
        per = out.groupby("source")["doc_id"].count().to_dict()
        # weights 1 : (1/4)² = 16 : 1 → exact floor allocation 160 / 10
        assert per == {"big": 160, "small": 10}

    def test_huge_target_total_does_not_overflow(self, spark):
        from osm_data_3d_tiles_spark.operators.sampling import mix_domains

        # 1e10 requested docs: target_total · s_d overflows int64 at the
        # default 1e12 fixed-point scale; the auto-shrunk scale must keep the
        # allocation exact (every row selected — targets exceed domain sizes)
        rows = [(i, "a") for i in range(50)] + [(100 + i, "b") for i in range(30)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = mix_domains(df, target_total=10_000_000_000).toPandas()
        assert len(out) == 80
