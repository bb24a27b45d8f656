"""Corpus-wide line/paragraph-level exact dedup (CCNet / C4 style).

Web-crawl pipelines remove *repeated lines* across the whole corpus
(boilerplate: nav bars, cookie banners, footers) while keeping each line's
first occurrence — a finer-grained decision than document-level dedup.  The
reference engine has no text hygiene at all; this is part of the
training-data family the brief adds on top of the reference's operator set.

The synthetic `documents` fixture has no newlines, so the unit of dedup is a
fixed-width word chunk (`chunk_words`) — the operator is agnostic: pass a
pre-split `line` unit by setting `chunk_words` large and splitting upstream,
or use the default chunking.  Semantics are exact and deterministic:

- chunk key = the chunk's literal text (collision-free, which is what lets a
  plain SQL oracle state the result);
- keep-first = the corpus-wide smallest `(doc_id, pos)` wins, including
  within-document repeats;
- every document row survives (a doc whose every chunk was seen earlier
  comes back with empty text and `n_kept = 0`).

Scale shape (100 TB): one explode (narrow), one groupBy on the chunk text
(the only wide shuffle — map-side partial `min` collapses per-mapper
duplicates first), one equi-join back, one per-doc re-aggregation keyed on
`doc_id`.  At planet scale swap the shuffle key to `xxhash64(chunk)` to ship
8-byte keys instead of ~`6*chunk_words`-byte strings — a 2^-64 false-merge
per bucket is the documented trade; the contract query keeps the literal key
so DuckDB states the identical result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# pos fits in 20 bits: 2^20 chunks/doc ≈ 20M words/doc at the default width.
_POS_BITS = 20


def dedup_text_chunks(docs: DataFrame, chunk_words: int = 20) -> DataFrame:
    """Remove corpus-wide duplicate word-chunks, keeping first occurrence.

    Returns one row per input document:
    (doc_id, text_dedup, n_kept, n_chunks) — `text_dedup` is the document's
    surviving chunks re-joined in original order, `n_chunks` the pre-dedup
    chunk count.
    """
    if chunk_words < 1:
        raise ValueError(f"chunk_words must be >= 1, got {chunk_words}")

    words = F.split(F.col("text"), " ", -1)
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * chunk_words + 1, chunk_words), " "),
    )
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), chunk_arr.alias("chunks"))
    ch = base.select("doc_id", F.posexplode("chunks").alias("pos", "chunk"))

    rank = F.shiftleft(F.col("doc_id"), _POS_BITS) + F.col("pos")
    owners = ch.groupBy("chunk").agg(F.min(rank).alias("own"))
    kept = ch.join(owners, "chunk").where(rank == F.col("own"))

    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )

    totals = base.select("doc_id", F.size("chunks").cast("long").alias("n_chunks"))
    return totals.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        "n_chunks",
    )
