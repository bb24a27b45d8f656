"""Distributed BPE vocabulary learning (Sennrich et al. 2016).

Learns byte-pair-encoding merge rules over a document corpus — the tokenizer-
training counterpart of the BPE *pre-tokenizer counting* already in
functions/text.py. Classic greedy BPE: count adjacent symbol pairs weighted by
word frequency, merge the most frequent pair everywhere, repeat.

Scale shape:
- The ONLY corpus-scale pass is the word-count aggregation (explode + groupBy
  word): one shuffle of (word, count). Everything after runs on the DISTINCT
  word table — at web scale ~1e8-1e9 rows vs 1e12 documents, a ~1000× smaller
  working set, kept distributed and persisted (never collected).
- Each merge round is: (a) a pair-count aggregation over the word table
  (JVM-side HOF pair extraction, map-side partial agg, shuffle bounded by
  distinct pairs per mapper), (b) a ONE-ROW collect of the argmax (the merge
  rule itself — the only driver traffic per round), (c) a rewrite of the
  words CONTAINING the pair (HOF `exists` prefilter, so the Arrow merge stage
  receives only matching rows; non-matching rows pass through untouched).
- Iteration hygiene mirrors operators/components.py: per-round persist /
  unpersist, lineage truncation via localCheckpoint every `checkpoint_every`
  rounds.

Scope note: classic BPE is inherently sequential in the merge order (each
rule conditions on all prior rewrites), so `num_merges` driver round-trips
are irreducible without changing the algorithm; this operator targets the
bounded-merge regimes (vocabulary analysis, curriculum studies, small domain
tokenizers). Production 30k+ merge trainings batch symbol-disjoint merges per
round — a documented approximation, deliberately NOT what this implements
(results would deviate from the published algorithm).

Reference scope note: the reference engine (TANK2003/osm-data-3d-tiles) has
no text pipeline at all — this operator belongs to the training-data surface
the graft adds (SURVEY.md §2 webtext family).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _register_persist

END_OF_WORD = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """Distinct whitespace-delimited words with corpus frequencies.

    Whitespace is ASCII only: Spark's split uses Java's `\\s`, which is
    `[ \\t\\n\\x0B\\f\\r]`, so U+00A0, U+2003, U+3000 and other Unicode
    spaces stay inside words (unlike Python's `str.split()`)."""
    return (
        docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_pair(toks: list, left: str, right: str, merged: str) -> list:
    """Greedy left-to-right merge of one adjacent pair — the classic rewrite."""
    out, i, n = [], 0, len(toks)
    while i < n:
        if i + 1 < n and toks[i] == left and toks[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def learn_bpe(
    docs: DataFrame,
    num_merges: int = 16,
) -> DataFrame:
    """Learn `num_merges` BPE merge rules; returns the merge table
    (rank, left, right, pair_count) with rank 0 = first merge learned.

    Symbols start as single characters plus a trailing `</w>` end-of-word
    symbol (the Sennrich et al. convention, so learned units can't cross word
    boundaries). Ties on pair count break lexicographically on (left, right) —
    fully deterministic. Stops early when the best pair's weighted count
    drops below 2 (merging singletons learns nothing). Every 4th round's
    table is checkpointed.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = docs.sparkSession

    syms = word_counts(docs).select(
        F.concat(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            F.array(F.lit(END_OF_WORD)),
        ).alias("syms"),
        "cnt",
    )
    syms = _register_persist(syms.persist())
    # the changed ∪ unchanged union SUMS its parents' partition counts, so
    # without re-coalescing each round the table doubles its partitions per
    # merge (measured: 64 → 16384 by round 12 on a few-hundred-row word
    # table, the scheduler drowning in empty tasks). coalesce is narrow — no
    # shuffle — and pins every round at the word table's original layout.
    n_parts = syms.rdd.getNumPartitions()

    pair_struct = F.expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))"
    )
    out_schema = T.StructType(
        [
            T.StructField("syms", T.ArrayType(T.StringType())),
            T.StructField("cnt", T.LongType()),
        ]
    )

    merges: list[tuple] = []
    for rank in range(num_merges):
        best = (
            syms.where(F.size("syms") >= 2)
            .select(F.explode(pair_struct).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < 2:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((rank, left, right, n))
        merged = left + right

        # rewrite ONLY the words containing the pair; everything else passes
        # through untouched (both branches read the same persisted round table).
        # The size >= 2 guard must be a CASE branch, not a filter: once a word
        # fully merges to one symbol, sequence(1, size-1) DESCENDS to [1, 0]
        # and element_at(syms, 0) throws INVALID_INDEX_OF_ZERO on every row.
        has_pair = F.when(
            F.size("syms") >= 2,
            F.exists(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: (F.element_at("syms", i) == F.lit(left))
                & (F.element_at("syms", i + 1) == F.lit(right)),
            ),
        ).otherwise(F.lit(False))

        def _apply(
            batches: Iterator[pd.DataFrame],
            left: str = left,  # bind by value: the closure outlives the loop
            right: str = right,  # variable if an evicted cache partition is
            merged: str = merged,  # recomputed after a later round rebinds them
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["syms"] = [
                    _merge_pair(list(s), left, right, merged) for s in pdf["syms"]
                ]
                yield pdf

        changed = syms.where(has_pair).mapInPandas(_apply, schema=out_schema)
        new_syms = changed.unionByName(syms.where(~has_pair)).coalesce(n_parts)
        if (rank + 1) % 4 == 0:
            # truncate lineage — each round's plan otherwise references every
            # prior round's union (same hygiene as connected_components)
            new_syms = _register_persist(new_syms.localCheckpoint(eager=True))
        else:
            new_syms = _register_persist(new_syms.persist())
            new_syms.count()  # materialize before dropping the parent cache
        syms.unpersist()
        syms = new_syms

    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("left", T.StringType(), False),
            T.StructField("right", T.StringType(), False),
            T.StructField("pair_count", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(merges, schema=schema)
