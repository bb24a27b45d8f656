"""Benchmark decontamination — drop training documents that overlap a
reference corpus (eval/test sets) on any word n-gram.

The canonical pipeline step before pre-training: a document sharing even one
13-gram with a benchmark is contaminated and must not be trained on. At 100 TB
the shape matters:

- the REFERENCE side (benchmarks) is small by definition — thousands to a few
  million n-grams. Its distinct gram hashes are collected once and packed into
  a numpy Bloom BITMAP (k probes via splitmix64 remixing), shipped to
  executors as one Spark broadcast (m/8 bytes, ≪ the gram set);
- the DOCUMENT side is the 10¹²-row table. Stage 1 tests every document gram
  against the broadcast bitmap in a fully VECTORIZED Arrow stage (numpy bit
  probing, zero shuffle) and keeps only documents with ≥1 filter hit — at
  fpp≈1e-3 roughly 0.1% of clean grams survive as false positives;
- stage 2 equi-joins only the surviving grams against the exact reference
  hash set (fixed-width longs, volume bounded by the contaminated fraction,
  not the corpus; AQE broadcasts the reference side when it is small). Bloom
  false positives die here, so the result is EXACT: precisely the documents
  with a true n-gram overlap.

For a reference too large to collect (decontaminating against another shard of
the corpus itself), pass ``use_bloom=False``: the same exact join runs without
the prefilter and both sides stay distributed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _gram_hash_col(text_col: str, n: int) -> F.Column:
    """array<bigint> of xxhash64'd word n-grams, deduped in-row."""
    words = F.split(F.col(text_col), " ", -1)
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_distinct(grams)


def _bloom_build(hashes: np.ndarray, fpp: float) -> tuple[np.ndarray, int, int]:
    """(bitmap_u64_words, m_bits, k) sized for len(hashes) items at fpp."""
    n_items = max(1, len(hashes))
    m = int(max(64, -n_items * np.log(fpp) / (np.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n_items * np.log(2))))
    bits = np.zeros(m // 64, dtype=np.uint64)
    for probe in _bloom_probes(hashes.astype(np.uint64), k, m):
        np.bitwise_or.at(bits, probe >> np.uint64(6),
                         np.uint64(1) << (probe & np.uint64(63)))
    return bits, m, k


def _bloom_probes(h: np.ndarray, k: int, m: int):
    """k probe positions per hash — splitmix64 remix rounds (vectorized)."""
    x = h.copy()
    for _ in range(k):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        z = x.copy()
        z ^= z >> np.uint64(30)
        z = z * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z = z * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        yield (z % np.uint64(m)).astype(np.uint64)


def contaminated_docs(
    docs: DataFrame,
    reference: DataFrame,
    use_bloom: bool = True,
) -> DataFrame:
    """(doc_id, n_hits) for every document sharing ≥ 1 word 3-gram with the
    reference corpus. Exact — the Bloom stage only prunes; the equi-join on
    the exact reference gram hashes decides."""
    spark = docs.sparkSession
    ref_grams = reference.select(
        F.explode(_gram_hash_col("text", 3)).alias("gh")
    ).distinct()

    doc_grams = docs.select(
        F.col("doc_id").alias("id"), F.explode(_gram_hash_col("text", 3)).alias("gh")
    )

    if use_bloom:
        ref_hashes = np.array(
            [r["gh"] for r in ref_grams.collect()], dtype=np.int64
        )
        if len(ref_hashes) == 0:
            return (
                docs.select(F.col("doc_id")).limit(0)
                .withColumn("n_hits", F.lit(0).cast("long"))
            )
        bits, m, k = _bloom_build(ref_hashes, 0.001)
        bc = spark.sparkContext.broadcast((bits, m, k))

        schema = T.StructType(
            [T.StructField("id", doc_grams.schema["id"].dataType),
             T.StructField("gh", T.LongType())]
        )

        def _prefilter(batches):
            import pandas as pd

            bits_l, m_l, k_l = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                gh = pdf["gh"].to_numpy(dtype=np.int64).astype(np.uint64)
                hit = np.ones(len(gh), dtype=bool)
                for probe in _bloom_probes(gh, k_l, m_l):
                    word = bits_l[(probe >> np.uint64(6)).astype(np.int64)]
                    hit &= (word >> (probe & np.uint64(63))) & np.uint64(1) != 0
                yield pd.DataFrame({"id": pdf["id"][hit], "gh": pdf["gh"][hit]})

        doc_grams = doc_grams.mapInPandas(_prefilter, schema=schema)

    exact = doc_grams.join(ref_grams, "gh")
    return (
        exact.groupBy("id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.col("id").alias("doc_id"), "n_hits")
    )
