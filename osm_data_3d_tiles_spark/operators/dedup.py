"""Deduplication operators over document tables — exact and near-dup.

Scale shapes:
- exact: hash-groupBy — one shuffle on the content hash; the winner per group is the
  min id (deterministic).
- MinHash+LSH: signature in one Arrow stage → explode to (band, band_hash) → the
  *bucket join is an equi-join on the band hash* (shuffle keyed on band hash, no
  quadratic blow-up) → exact Jaccard verify per candidate pair.
- SimHash: 64-bit signature → 4×16-bit chunk buckets (any pair within Hamming
  distance 3 shares ≥1 exact chunk) → Hamming verify.
- embedding near-dup: random-hyperplane LSH buckets → exact cosine verify.

All signatures are computed with seeded, platform-stable hashing (FNV/md5-free of
Python's randomized hash), so results are identical across executors and runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as tx

# Persisted intermediates (signatures, gram indexes, unit vectors) registered
# here so long-lived sessions can release them: each near-dup operator persists
# the stage that feeds multiple plan branches, and the cache would otherwise
# accumulate across repeated calls with no handle exposed to the caller.
_PERSISTED: list[DataFrame] = []


def _register_persist(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df


def unpersist_all() -> int:
    """Release every intermediate this module has persisted; returns the count.
    Call between dedup runs in a long-lived session (or `spark.catalog.clearCache`
    for a blunter hammer)."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: (text_hash, keep_id = min id, dup_count)."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("signature", T.ArrayType(T.LongType())),
        ]
    )

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [tx.minhash_signature(t).tolist() for t in pdf["text"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "signature": sigs})

    from ..session import with_min_parallelism

    return with_min_parallelism(docs.select("doc_id", "text")).mapInPandas(_sig, schema=schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash, verified by exact signature
    Jaccard estimate ≥ threshold. Output: (a, b, est_jaccard) with a < b.

    Shuffle shape: band rows carry (id, band, band_hash) ONLY — the 64-long
    signature does not ride the ×16 bands explode through the shuffle; it is
    re-joined once per pair side for the verify (pairs ≪ band rows).

    `max_bucket` drops band buckets with more than that many members before
    pairing. A bucket that hot is mass-duplicated boilerplate (its pairs are
    O(n²)); run `exact_dedup` first so literal duplicates never reach LSH, then
    the cap only ever removes near-identical template floods. Default None (no
    silent recall cap); opt in at the plan layer."""
    # persisted (registered for `unpersist_all`): the signature stage (the
    # dominant Python CPU cost) feeds three plan branches — banding plus one
    # verify join per pair side — and would otherwise recompute per branch
    sigs = _register_persist(minhash_signatures(docs).persist())

    banded = _banded_rows(sigs)
    if max_bucket is not None:
        from pyspark.sql import Window

        n_in_bucket = F.count("*").over(Window.partitionBy("band", "band_hash"))
        banded = banded.withColumn("_n", n_in_bucket).filter(F.col("_n") <= max_bucket).drop("_n")

    left = banded.select(F.col("doc_id").alias("a"), "band", "band_hash")
    right = banded.select(F.col("doc_id").alias("b"), "band", "band_hash")
    pairs = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    cand = pairs.join(
        sigs.select(F.col("doc_id").alias("a"), F.col("signature").alias("sig_a")), "a"
    ).join(sigs.select(F.col("doc_id").alias("b"), F.col("signature").alias("sig_b")), "b")
    # exact signature agreement ratio (unbiased Jaccard estimate)
    num_perm_lit = F.size("sig_a").cast("double")
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / num_perm_lit
    )
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", "est_jaccard")
    )


def _banded_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) rows, 16 bands — the LSH banding shared by the pair join and
    the bucket-stats diagnostic."""
    band_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_hash", T.LongType()),
        ]
    )

    def _bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bd, bh = [], [], []
            for i, sig in zip(pdf["doc_id"], pdf["signature"]):
                hashes = tx.minhash_bands(np.asarray(sig, dtype=np.int64))
                for b, h in enumerate(hashes):
                    ids.append(i)
                    bd.append(b)
                    bh.append(h)
            yield pd.DataFrame({"doc_id": ids, "band": bd, "band_hash": bh})

    return sigs.mapInPandas(_bands, schema=band_schema)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_block_combos(max_hamming: int, n_blocks: int | None) -> tuple[int, list[tuple[int, ...]]]:
    """Block layout for exact-recall SimHash bucketing (Manku/Google web-dedup
    scheme): split the 64 bits into `n_blocks` blocks; a pair within Hamming
    distance d can differ in at most d blocks, so it agrees exactly on SOME
    combination of (n_blocks - d) blocks. One bucket table per combination keyed
    on the combo's block values guarantees every qualifying pair collides.

    n_blocks = d+1 (the default) is the cheapest layout: C(d+1, 1) = d+1 tables
    keyed on one ~64/(d+1)-bit block. At planet scale narrow keys make hot
    buckets; raising n_blocks widens keys (combos of n_blocks-d blocks) at the
    cost of C(n_blocks, d) replication — an explicit scale knob."""
    import itertools

    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming}: with fewer "
            "blocks than differing bits a qualifying pair can miss every bucket"
        )
    if n_blocks > 64:
        raise ValueError("n_blocks must be <= 64 for a 64-bit SimHash")
    combos = list(itertools.combinations(range(n_blocks), n_blocks - max_hamming))
    return n_blocks, combos


def simhash_pairs_from_signatures(
    sims: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Pairs with Hamming distance ≤ max_hamming from a (id, simhash) table.
    Exact recall for any max_hamming via block-combination bucketing (see
    `_simhash_block_combos`); candidates verified with a native bit_count."""
    n_blocks, combos = _simhash_block_combos(max_hamming, n_blocks)
    base, rem = divmod(64, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def _block(i: int) -> F.Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), offsets[i])
        if widths[i] >= 64:  # n_blocks=1 (max_hamming=0): the full-width mask
            return shifted   # literal (1<<64)-1 overflows LongType — and is a no-op
        return shifted.bitwiseAND(F.lit((1 << widths[i]) - 1))

    # key = stable hash of the combo's block values; hash collisions only add
    # candidates (killed by the exact Hamming verify), never lose recall
    keys = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo"),
                        F.xxhash64(*[_block(b) for b in combo]).alias("key"),
                    )
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.combo", "c.key")

    left = keys.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a"), "combo", "key"
    )
    right = keys.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b"), "combo", "key"
    )
    cand = (
        left.join(right, ["combo", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .dropDuplicates(["a", "b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming over 64-bit SimHash."""
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("simhash", T.LongType())]
    )

    def _sim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": [tx.simhash(t) for t in pdf["text"]]}
            )

    from ..session import with_min_parallelism

    sims = with_min_parallelism(docs.select("doc_id", "text")).mapInPandas(_sim, schema=schema)
    return simhash_pairs_from_signatures(sims, max_hamming=max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify over LSH candidates)
# ---------------------------------------------------------------------------


def ngram_jaccard_exact(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT word-n-gram Jaccard pairs via an inverted index — pure relational
    plan, no Python: explode distinct n-grams, equi-join on the gram (the
    candidate generator — only docs sharing ≥1 gram ever meet), count the
    intersection per pair, derive |union| = |A| + |B| - |I|, and filter with an
    INTEGER cross-multiplication (inter·den ≥ union·num ⟺ J ≥ num/den) so the
    predicate is fp-free and engine-identical.

    Output: (a, b, inter, union_sz) with a < b and J ≥ threshold_num/threshold_den.

    Hot-gram mitigation (AllPairs/PPJoin prefix filter, exact-result
    preserving): candidate generation joins only each doc's PREFIX grams — the
    first |A| − ⌈t·|A|⌉ + 1 grams under a global (document-frequency asc, gram)
    order. J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, so any qualifying
    pair shares at least one prefix gram on BOTH sides — no recall loss. The
    hottest grams sort last and fall outside almost every prefix, so a gram
    shared by half the corpus never becomes an O(n²) join key. The exact
    intersection is then counted by re-joining the candidates' full gram sets
    (bounded by the candidate count, not by gram frequency).

    Two shuffle-cost choices (the round-2 review's findings):
    - every join/aggregate keys on `gh = xxhash64(gram)` (8 bytes), never the
      gram string — the distinct, the df-count, the candidate join and the
      intersection join all shuffle fixed-width longs. Within-corpus 64-bit
      collisions (P < |grams|²/2⁶⁴) could merge two grams; at that probability
      the result is exact for any realizable corpus, and a collision only
      perturbs a count by 1 at an exact threshold boundary.
    - the (id, gh) gram index and the per-doc sizes are persisted (registered
      for `unpersist_all`): they feed 5 plan branches — sizes, df counts, the
      prefix, and both sides of the intersection join — and were measured
      recomputing the text-scan→explode→distinct shuffle per branch.
    """
    words = F.split(F.col("text"), " ", -1)
    # guard: Spark sequence(1, k) with k < 1 yields a DESCENDING sequence
    grams_arr = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # gram-set dedup is PER DOCUMENT → array_distinct inside the row, not a
    # DataFrame.distinct() (which would shuffle the whole exploded gram table);
    # |distinct grams| likewise falls out narrow as size(array)
    gharr = F.array_distinct(grams_arr)
    base = docs.select(
        F.col("doc_id").alias("id"), gharr.alias("_gh"), F.size(gharr).alias("sz")
    )
    grams = _register_persist(
        base.select("id", F.explode("_gh").alias("gh")).persist()
    )
    sizes = _register_persist(base.select("id", "sz").persist())

    from pyspark.sql import Window

    # hash aggregates + join-back deliberately beat count-over-window here: a
    # window over 10⁶ near-singleton gram groups is sort-based and measured 2×
    # slower than the agg+join shape in an interleaved A/B at sf0.1
    df_counts = grams.groupBy("gh").agg(F.count("*").alias("df"))
    pos = F.row_number().over(Window.partitionBy("id").orderBy("df", "gh"))
    # required overlap ⌈sz·num/den⌉ in INTEGER math: float t makes sz*t land an
    # ulp above an exact multiple (e.g. 77·9/11 → 63.000000000000014), F.ceil
    # then overshoots by one and the prefix silently drops an at-threshold pair
    required = F.floor(
        (F.col("sz") * F.lit(threshold_num) + F.lit(threshold_den - 1)) / F.lit(threshold_den)
    )
    prefix = (
        grams.join(df_counts, "gh")
        .join(sizes, "id")
        .withColumn("_pos", pos)
        .filter(F.col("_pos") <= F.col("sz") - required + 1)
        .select("id", "gh")
    )
    cand = (
        prefix.withColumnsRenamed({"id": "a"})
        .join(prefix.withColumnsRenamed({"id": "b"}), "gh")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    inter = (
        cand.join(grams.withColumnsRenamed({"id": "a"}), "a")
        .join(grams.withColumnsRenamed({"id": "b"}), ["b", "gh"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "a", "sz": "sa"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "sb"}), "b")
        .withColumn("union_sz", F.col("sa") + F.col("sb") - F.col("inter"))
        .filter(F.col("inter") * threshold_den >= F.col("union_sz") * threshold_num)
        .select("a", "b", "inter", "union_sz")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Banded multi-table random-hyperplane LSH + exact cosine verification.
    Output: (a, b, cosine) with a < b and cosine ≥ threshold.

    Recall shape: a pair at angle θ agrees on one hyperplane bit with
    p = 1 − θ/π, on one table's full key with p^8, and is MISSED only if all
    8 table keys of 8 bits disagree: (1 − p^8)^8. At cosine 0.95 (θ≈18°,
    p≈0.90) that is ≥ 0.97 recall; a single 16-bit table (the old
    shape) is ≈ 0.12 there — recall collapses near the threshold. Candidates
    ride an equi-join on (table, bucket); only ids shuffle with the ×8
    explode, units are re-joined per pair side for the verify."""
    bucket_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )
    unit_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("unit", T.ArrayType(T.DoubleType())),
        ]
    )

    def _units(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            unit = mat / norms
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "unit": [u.tolist() for u in unit]})

    def _buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes: np.ndarray | None = None
        # 8 tables of 8 hyperplane bits each
        weights = 1 << np.arange(8, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            unit = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["unit"]])
            if planes is None:
                rng = np.random.RandomState(42)
                planes = rng.randn(unit.shape[1], 64)
            bits = (unit @ planes > 0).astype(np.int64)
            ids, tables, buckets = [], [], []
            for t in range(8):
                chunk = bits[:, t * 8 : (t + 1) * 8]
                ids.extend(pdf["vec_id"])
                tables.extend([t] * len(pdf))
                buckets.extend((chunk @ weights).tolist())
            yield pd.DataFrame({"vec_id": ids, "table": tables, "bucket": buckets})

    from ..session import with_min_parallelism

    # normalize ONCE: units is persisted (registered for `unpersist_all`) and
    # feeds bucketing plus both verify joins (otherwise the embedding scan +
    # normalization runs up to 4x)
    src = with_min_parallelism(embeddings.select("vec_id", "embedding"))
    units = _register_persist(src.mapInPandas(_units, schema=unit_schema).persist())
    bucketed = units.mapInPandas(_buckets, schema=bucket_schema)
    left = bucketed.select(F.col("vec_id").alias("a"), "table", "bucket")
    right = bucketed.select(F.col("vec_id").alias("b"), "table", "bucket")
    pairs = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    cand = pairs.join(
        units.select(F.col("vec_id").alias("a"), F.col("unit").alias("ua")), "a"
    ).join(units.select(F.col("vec_id").alias("b"), F.col("unit").alias("ub")), "b")
    cosine = F.aggregate(
        F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        cand.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


# ---------------------------------------------------------------------------
# exact substring dedup (suffix-array-style, re-expressed scale-safe)
# ---------------------------------------------------------------------------


def exact_substring_spans(
    docs: DataFrame,
    sample_hex_prefix: str = "0",
) -> DataFrame:
    """Cross-document exact duplicated substrings, per Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better") — the
    suffix-array pass re-expressed as a Spark-native fingerprint pipeline.

    The published method builds one suffix array over the whole corpus and
    reports substrings >= L that occur twice; a global suffix array is the
    wrong shape for a distributed engine (single sorted structure over 100 TB
    of text). The scale-safe re-expression: slide a 40-character
    window over each document, keep windows by a CONTENT-DEFINED sample (md5
    hex prefix match — 1/16 per prefix nibble; winnowing-style, so identical
    text selects identical windows regardless of document offset), and group
    sampled windows by their md5 across the corpus. A window whose content
    appears in >= 2 distinct documents is a duplicated span anchor; any
    cross-document duplicated run of length >= 40 + 4·len(prefix) chars
    contains at least one sampled anchor in expectation, and the anchors it
    contains are found EXACTLY (no false positives modulo md5 collision —
    documented, cryptographically negligible, and identical in the oracle).

    Plan shape (the 100-TB story):
    - Window extraction, sampling, and hashing run inside one whole-stage
      codegen pass: transform(sequence(...)) -> filter(md5 prefix) -> md5,
      all JVM-side higher-order functions — no Python, no UDF, and the window
      TEXT never leaves the stage (only 32-char md5 keys are exploded).
    - The only shuffles are hash aggregations keyed on the md5 key: a
      two-stage (partial -> final) distinct-doc count per key, and a
      per-(doc, key) count. Bytes shuffled ~= sampled_windows × 40 bytes —
      at the default 1/16 sampling, ~2.5% of corpus bytes.
    - The anchor->doc join is an equi-join on the md5 key between two
      aggregates of the SAME shuffle key, so AQE plans it without a third
      repartition of the big side.

    Returns one row per document that contains at least one duplicated
    anchor: (doc_id, n_dup_windows = distinct duplicated anchor contents in
    the doc, n_dup_occurrences = total anchor occurrences in the doc).

    Reference scope note: the reference engine has no corpus dedup at all
    (SURVEY.md §2 webtext family) — this operator is part of the
    training-data-pipeline surface the graft adds.
    """
    if not sample_hex_prefix or any(c not in "0123456789abcdef" for c in sample_hex_prefix):
        raise ValueError("sample_hex_prefix must be 1+ lowercase hex chars")
    plen = len(sample_hex_prefix)
    # transform -> filter -> md5 inside one HOF chain: the exploded rows are
    # already sampled AND reduced to 32-char keys (window text stays in-stage).
    keys_expr = (
        f"transform("
        f"  filter("
        f"    transform(sequence(1, length(text) - 39),"
        f"              i -> substring(text, i, 40)),"
        f"    w -> substring(md5(w), 1, {plen}) = '{sample_hex_prefix}'),"
        f"  w -> md5(w))"
    )
    sampled = (
        docs.where(F.length("text") >= 40)
        .select(F.col("doc_id"), F.explode(F.expr(keys_expr)).alias("wkey"))
    )
    # persisted: per_doc feeds BOTH the anchor aggregate and the final join —
    # without the persist Catalyst re-derives each branch from its own scan
    # and the (expensive) window-extraction pass runs twice over the corpus
    per_doc = _register_persist(
        sampled.groupBy("doc_id", "wkey").agg(F.count("*").alias("n_occ")).persist()
    )
    # distinct-doc count per anchor, computed over the per-doc aggregate: the
    # re-shuffle onto wkey moves one row per (doc, anchor), not one per window
    # occurrence
    anchors = (
        per_doc.groupBy("wkey")
        .agg(F.count("*").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("wkey")
    )
    return (
        per_doc.join(anchors, "wkey")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.sum("n_occ").alias("n_dup_occurrences"),
        )
    )
