"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

Selects raw-corpus documents whose hashed-n-gram distribution looks like a
target corpus: fit bag-of-hashed-ngrams models p (target) and q (raw), score
every raw document with the importance log-weight
``sum_b count_b * (ln p_b - ln q_b)``, and keep the top-k. The published
method adds Gumbel noise before the top-k (importance *resampling*); this
implementation exposes that as an option but defaults to the deterministic
top-k so the driver contract and goldens stay reproducible — the Gumbel
variant only changes which near-boundary documents cross the cut.

Scale shape:
- Featurization (unigrams + word bigrams -> md5 bucket in [0, n_buckets))
  runs in ONE whole-stage-codegen HOF chain per document: split -> gram
  transform -> md5 bucket -> explode; the only corpus-scale shuffle is the
  (doc, bucket) count aggregation, keyed on the doc id.
- The two n-gram models are n_buckets-row aggregates (default 256 rows) —
  broadcast to the scorer, never a shuffle key.
- Scoring is a broadcast-join + groupBy(doc) weighted sum; the final top-k
  uses the same two-phase local/global pattern as the ANN operators, so no
  reducer ever sees the whole corpus.

Hash note: buckets come from the first two hex chars of md5(gram) — the one
hash this repo shares bit-for-bit with DuckDB — so the featurization is
restatable in SQL; the log-weights themselves are float (ln), which is why
the contract query pins a golden oracle (cross-engine libm last-ulp
differences make a SQL value-hash flaky) and exact semantics ride the
plain-Python reference parity pytest.

Reference scope note: the reference engine (TANK2003/osm-data-3d-tiles) has
no text pipeline — this operator belongs to the training-data surface the
graft adds (SURVEY.md §2 webtext family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import _local_topk, _global_topk


# hashed n-gram feature buckets: the default of hashed_ngram_buckets and
# the model size of dsir_select
N_BUCKETS = 256


def hashed_ngram_buckets(docs: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """Per-document hashed-n-gram bucket counts: (doc_id, bucket, cnt).

    Grams are whitespace unigrams plus adjacent-word bigrams (the DSIR
    paper's featurization); bucket = md5(gram) taken as a hex integer mod
    n_buckets. Everything runs JVM-side in one HOF chain.

    Whitespace is ASCII only: Java's `\\s` is `[ \\t\\n\\x0B\\f\\r]`, so
    U+00A0, U+2003, U+3000 and other Unicode spaces stay inside words
    (unlike Python's `str.split()`).
    """
    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    words = docs.select(
        F.col("doc_id"),
        F.expr("filter(split(text, '\\\\s+'), w -> w != '')").alias("ws"),
    )
    buckets_expr = (
        "transform("
        "  concat(ws,"
        # CASE guard, not greatest(): sequence(1, 0) DESCENDS in Spark, which
        # would emit [1, 0] and fabricate null grams on 0/1-word documents
        "         CASE WHEN size(ws) < 2 THEN array()"
        "              ELSE transform(sequence(1, size(ws) - 1),"
        "                             i -> concat(ws[i-1], ' ', ws[i])) END),"
        # first 4 hex chars -> 16-bit int, mod n_buckets: enough entropy for
        # the supported bucket range, and restatable in DuckDB
        f"  g -> cast(conv(substring(md5(g), 1, 4), 16, 10) as int) % {n_buckets})"
    )
    return (
        words.select(F.col("doc_id"), F.explode(F.expr(buckets_expr)).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_select(docs: DataFrame, is_target, k: int = 100) -> DataFrame:
    """Top-k raw documents by DSIR importance log-weight.

    `is_target` is a boolean Column marking the target-distribution examples
    (they define p and are excluded from selection); every other document is
    raw (defines q, eligible for selection). Models are add-one smoothed over
    N_BUCKETS. Returns (doc_id, log_weight, rank) with rank 1 = best;
    ties break on ascending id via the shared top-k kernels.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .dedup import _register_persist

    flagged = docs.select(F.col("doc_id"), F.col("text"), is_target.alias("is_target"))
    counts = hashed_ngram_buckets(flagged)
    # persist: the featurization (whole-corpus HOF gram extraction + explode +
    # aggregation) feeds BOTH the totals collect and the weighted-scoring join
    # below — without the cache the dominant stage executes twice.
    counts = _register_persist(
        counts.join(flagged.select("doc_id", "is_target"), "doc_id").persist()
    )

    totals = (
        counts.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("t_cnt"),
            F.sum(F.when(~F.col("is_target"), F.col("cnt")).otherwise(0)).alias("r_cnt"),
        )
        .collect()
    )
    t_total = sum(r["t_cnt"] for r in totals)
    r_total = sum(r["r_cnt"] for r in totals)
    by_bucket = {r["bucket"]: (r["t_cnt"], r["r_cnt"]) for r in totals}
    # add-one smoothing over the full bucket space (buckets with zero mass in
    # both corpora still get a defined, constant score)
    scores = [
        (
            b,
            math.log((by_bucket.get(b, (0, 0))[0] + 1) / (t_total + N_BUCKETS))
            - math.log((by_bucket.get(b, (0, 0))[1] + 1) / (r_total + N_BUCKETS)),
        )
        for b in range(N_BUCKETS)
    ]
    spark = docs.sparkSession
    score_df = spark.createDataFrame(scores, ["bucket", "score"])

    weighted = (
        counts.where(~F.col("is_target"))
        .join(F.broadcast(score_df), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("score")).alias("log_weight"))
    )
    # two-phase top-k (same kernels as the ANN family): per-partition
    # pre-aggregation, then the bounded global pass
    pruned = _local_topk(
        weighted.select(F.lit(0).alias("_q"), "doc_id", "log_weight"),
        "_q", "doc_id", "log_weight", k,
    )
    return _global_topk(pruned, "_q", "doc_id", "log_weight", k).drop("_q")
