"""Similarity search over an embedding column (array<float>).

- `ann_bruteforce_topk`: exact cosine top-k — the correctness baseline. The dot
  product runs as a native `F.aggregate(F.zip_with(...))` expression (JVM-side, no
  Python), queries are broadcast.
- `ann_ivf_topk`: the scale path — deterministic IVF: coarse centroids picked by
  stable hash-sampling + one Lloyd refinement, vectors partitioned by nearest
  centroid, queries probe the `n_probe` nearest centroid lists only. At 100 TB this
  turns a full scan per query into a pruned scan of n_probe/n_list of the data,
  shuffled once on centroid id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _register_persist


def _unit_col(vec: F.Column) -> F.Column:
    dot = F.aggregate(F.zip_with(vec, vec, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)
    norm = F.sqrt(dot)
    # an all-zero vector normalizes to NaN components EXPLICITLY: with ANSI on
    # (Spark 4 default) a bare x/0.0 aborts the job; with ANSI off it returned
    # NaN implicitly. The explicit branch makes both modes identical; the ANN
    # paths then EXCLUDE NaN cosines before ranking (see _local_topk note).
    return F.transform(
        vec,
        lambda x: F.when(norm != F.lit(0.0), x / norm).otherwise(F.lit(float("nan"))),
    )


def _drop_nan_units(df: DataFrame, col: str) -> DataFrame:
    """Exclude rows whose unit vector contains NaN (all-zero input vectors).

    This must happen at the SOURCE, not just at cosine-scoring time: a NaN
    unit inside the driver-side training sample poisons k-means centroids and
    PQ codebooks (numpy argmax/argmin return the NaN index, Lloyd means go
    NaN, every vector then lands in one list / one codeword), and a NaN query
    unit makes every ADC score NaN. Exclusion at the source keeps the sample,
    the assignment stages, the codes, and the score columns NaN-free — the
    `_local_topk` input contract."""
    return df.filter(~F.exists(col, lambda x: F.isnan(x)))


def _cosine_col(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _local_topk(
    scored: DataFrame, query_id_col: str, id_col: str, score_col: str, k: int
) -> DataFrame:
    """Per-partition top-k pre-aggregation for the global per-query window.

    A bare `Window.partitionBy(query_id)` over the probed candidate set sends
    EVERY candidate for a query to one reducer — with n_probe/n_list = 1/2
    defaults that is half the corpus per query at scale. This stage runs where
    the candidates already sit (zero shuffle: mapInPandas, no re-partition) and
    keeps only each partition's top-k per query, so the global window's input
    is ≤ num_partitions·k rows per query instead of the probe set.

    Correct because any row in the GLOBAL top-k under a total order is in the
    top-k of whichever partition holds it under the same order; ties break by
    ascending id exactly as the final window does. Memory is bounded by
    k × (queries seen in the partition).

    Input contract: scores are NaN-free — `_drop_nan_units` excludes zero
    vectors (the only NaN source) at the base/query level in every caller.
    NaN could not survive this stage consistently anyway: it does not
    round-trip through Arrow (pandas NaN → NULL on the way back), so Spark's
    NaN-first DESC order and the pandas sort could never agree; exclusion at
    the source is the only ordering identical at every partition layout.
    """
    schema = scored.schema

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kept: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            cur = pd.concat([kept, pdf], ignore_index=True) if kept is not None else pdf
            kept = (
                cur.sort_values([score_col, id_col], ascending=[False, True], kind="mergesort")
                .groupby(query_id_col, sort=False)
                .head(k)
            )
        if kept is not None and len(kept):
            yield kept

    return scored.mapInPandas(_fn, schema=schema)


def _empty_topk(
    embeddings: DataFrame, queries: DataFrame,
    id_col: str, query_id_col: str,
) -> DataFrame:
    """Empty result with the exact output schema of _global_topk — the
    degenerate-input path (no valid vectors / no valid queries after the
    NaN-unit exclusion) for the eager IVF/PQ builders, matching what the
    lazy brute-force plan produces naturally."""
    spark = embeddings.sparkSession
    schema = T.StructType([
        queries.schema[query_id_col],
        T.StructField("rank", T.IntegerType()),
        embeddings.schema[id_col],
        T.StructField("cosine", T.DoubleType()),
    ])
    return spark.createDataFrame([], schema=schema)


def _global_topk(
    pruned: DataFrame, query_id_col: str, id_col: str, score_col: str, k: int
) -> DataFrame:
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.col(id_col))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, score_col)
    )


def ann_bruteforce_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, vec_id, cosine). Ties by vec_id.
    Zero vectors (base or query) are excluded — no defined cosine."""
    base = _drop_nan_units(
        embeddings.select(
            F.col("vec_id"), _unit_col(F.col("embedding").cast("array<double>")).alias("unit")
        ),
        "unit",
    )
    q = _drop_nan_units(
        queries.select(
            F.col("query_id"),
            _unit_col(F.col("query_vec").cast("array<double>")).alias("q_unit"),
        ),
        "q_unit",
    )
    cand = base.crossJoin(F.broadcast(q))
    scored = (
        cand.withColumn("cosine", _cosine_col(F.col("unit"), F.col("q_unit")))
        .select("query_id", "vec_id", "cosine")
    )
    # two-phase top-k: per-partition pre-aggregation, then the tiny global window
    pruned = _local_topk(scored, "query_id", "vec_id", "cosine", k)
    return _global_topk(pruned, "query_id", "vec_id", "cosine", k)


def _deterministic_centroids(mat: np.ndarray, ids: np.ndarray, n_list: int) -> np.ndarray:
    """Stable centroid init: order vectors by id, take n_list evenly spaced, then one
    Lloyd iteration. Fully deterministic for a given id set."""
    order = np.argsort(ids)
    mat = mat[order]
    step = max(1, len(mat) // n_list)
    cents = mat[::step][:n_list].copy()
    # one refinement sweep
    sims = mat @ cents.T
    assign = np.argmax(sims, axis=1)
    for c in range(len(cents)):
        members = mat[assign == c]
        if len(members):
            v = members.mean(axis=0)
            n = np.linalg.norm(v)
            if n > 0:
                cents[c] = v / n
    return cents


def _assign_lists(base: DataFrame, cents: np.ndarray, id_col: str) -> DataFrame:
    """Nearest-centroid assignment as ONE narrow Arrow stage: numpy argmax of
    unit @ centroidsᵀ against a Spark-broadcast centroid matrix. Zero shuffle —
    the previous shape (crossJoin(broadcast(cent_df)) × row_number window
    partitioned by vec_id) exchanged n_list× the base table just to pick an
    argmax, which at 100 TB is the index-build bottleneck. Ties break to the
    smallest list_id (np.argmax returns the first maximum), matching the old
    window's (desc sim, asc list_id) order."""
    spark = base.sparkSession
    bc_cents = spark.sparkContext.broadcast(np.ascontiguousarray(cents, dtype=np.float64))
    schema = T.StructType(
        [
            base.schema[id_col],
            # preserve the caller's unit storage type (float32 on the IVF
            # scan path — see ann_ivf_topk)
            T.StructField("unit", base.schema["unit"].dataType),
            T.StructField("list_id", T.IntegerType()),
        ]
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = bc_cents.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["unit"]])
            lids = np.argmax(m @ cm.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "unit": pdf["unit"], "list_id": lids}
            )

    return base.mapInPandas(_assign, schema=schema)


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 8,
) -> DataFrame:
    """IVF-pruned approximate cosine top-k, same output schema as brute force.

    The centroid table is tiny (n_list rows) → computed once driver-side from a
    deterministic sample, broadcast everywhere; the inverted lists are the base
    table partitioned by centroid id.

    Measured recall@10 vs `ann_bruteforce_topk` on the sf0.001 synthetic
    embeddings (near-uniform directions — IVF's worst case, no cluster
    structure to exploit): n_probe 4 → 0.70, 6 → 0.86, 8 → 0.90, 10 → 0.92.
    The default probes n_probe/n_list = 1/2 of the lists, gated at ≥ 0.85 by
    tests/test_operators.py; clustered real-world embeddings concentrate
    neighbors in far fewer lists, so production configs can prune much harder
    (raise n_list, keep n_probe ≪ n_list) at equal recall.
    """
    spark = embeddings.sparkSession
    # units are STORED float32 (round-5): normalization runs in float64 then
    # narrows once — halves the Arrow/cache/scan bytes of every downstream
    # stage at ~1e-7 component rounding, irrelevant to ranking; scoring
    # upcasts back to float64
    base = _register_persist(_drop_nan_units(embeddings.select(
        F.col("vec_id"),
        _unit_col(F.col("embedding").cast("array<double>")).cast("array<float>").alias("unit"),
    ), "unit").persist())

    # deterministic, representative sample: TakeOrdered over a stable hash of
    # the id (no full shuffle) — unlike bare limit(), independent of partition
    # layout and unbiased w.r.t. insertion order
    sample = base.orderBy(F.xxhash64(F.col("vec_id").cast("string"))).limit(4096).toPandas()
    if not len(sample):  # corpus holds no valid (non-zero) vectors
        return _empty_topk(embeddings, queries, "vec_id", "query_id")
    mat = np.vstack([np.asarray(v, dtype=np.float64) for v in sample["unit"]])
    cents = _deterministic_centroids(mat, sample["vec_id"].to_numpy(), n_list)
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    cent_df = spark.createDataFrame(cent_rows, ["list_id", "centroid"])

    # assign each vector to its nearest centroid — zero-shuffle Arrow argmax
    # against the broadcast centroid matrix (see _assign_lists)
    assigned = _assign_lists(base, cents, "vec_id")

    q = _drop_nan_units(
        queries.select(
            F.col("query_id"),
            _unit_col(F.col("query_vec").cast("array<double>")).alias("q_unit"),
        ),
        "q_unit",
    )
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("sim", _cosine_col(F.col("q_unit"), F.col("centroid")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("list_id"))
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_unit", "list_id")
    )

    # probes is |queries|×n_probe rows — tiny — but list_id has only n_list
    # distinct values, so an AQE misestimate that picks sort-merge would
    # shuffle the whole assigned corpus onto n_list keys (guaranteed skew).
    # Pin broadcast, mirroring the PQ path below.
    cand = assigned.join(F.broadcast(probes), "list_id")
    scored = (
        cand.withColumn(
            "cosine",
            _cosine_col(F.col("unit").cast("array<double>"), F.col("q_unit")),
        )
        .select("query_id", "vec_id", "cosine")
    )
    # two-phase top-k: the probe set never funnels into one reducer per query
    pruned = _local_topk(scored, "query_id", "vec_id", "cosine", k)
    return _global_topk(pruned, "query_id", "vec_id", "cosine", k)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized probe scan + exact rerank
# ---------------------------------------------------------------------------

def _train_pq_codebooks(
    mat: np.ndarray, m_sub: int, n_codes: int
) -> np.ndarray:
    """Deterministic per-subspace k-means codebooks (m_sub, n_codes, d_sub).

    Init = evenly spaced rows of the lexicographically sorted subvectors
    (stable for a given sample), then 5 Lloyd sweeps. All numpy ops are
    order-stable, so the same sample always yields the same codebooks."""
    n, D = mat.shape
    if D % m_sub:
        raise ValueError(f"dim {D} not divisible by m_sub {m_sub}")
    d = D // m_sub
    books = np.empty((m_sub, n_codes, d), dtype=np.float64)
    for j in range(m_sub):
        sub = np.ascontiguousarray(mat[:, j * d : (j + 1) * d])
        order = np.lexsort(sub.T[::-1])
        step = max(1, n // n_codes)
        cb = sub[order][::step][:n_codes].copy()
        if len(cb) < n_codes:  # degenerate tiny corpus: pad by cycling
            cb = np.resize(cb, (n_codes, d))
        for _ in range(5):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d2, axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[j] = cb
    return books


def _assign_and_encode_pq(
    base: DataFrame, cents: np.ndarray, books: np.ndarray, id_col: str
) -> DataFrame:
    """(id, list_id, codes) in ONE narrow Arrow stage: IVF nearest-centroid
    argmax AND per-subspace PQ codeword argmin against the broadcast
    matrices. Fusing the two means the whole-table index build makes a
    single pass through the Python boundary (a separate assign stage +
    encode stage would round-trip every float vector through Arrow twice).
    Codes are m_sub small ints; at scale that is the point: the probe scan
    ships m_sub bytes per vector instead of 4·D floats (64-dim float32 →
    16 codes = 16×)."""
    spark = base.sparkSession
    bc_cents = spark.sparkContext.broadcast(np.ascontiguousarray(cents, dtype=np.float64))
    bc_books = spark.sparkContext.broadcast(books)
    schema = T.StructType(
        [
            base.schema[id_col],
            T.StructField("list_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.ShortType())),
        ]
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm, bks = bc_cents.value, bc_books.value
        m_sub, _, d = bks.shape
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["unit"]])
            lids = np.argmax(m @ cm.T, axis=1).astype(np.int32)
            codes = np.empty((len(m), m_sub), dtype=np.int16)
            for j in range(m_sub):
                sub = m[:, j * d : (j + 1) * d]
                d2 = ((sub[:, None, :] - bks[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = np.argmin(d2, axis=1).astype(np.int16)
            yield pd.DataFrame(
                {pdf.columns[0]: pdf[pdf.columns[0]], "list_id": lids, "codes": list(codes)}
            )

    return base.mapInPandas(_enc, schema=schema)


def ann_ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 8,
    m_sub: int = 16,
    n_codes: int = 64,
    refine: int = 8,
) -> DataFrame:
    """IVF + product quantization + exact rerank; output schema matches
    `ann_bruteforce_topk` (query_id, rank, vec_id, cosine — EXACT cosines,
    because the PQ stage only shortlists).

    Pipeline: coarse IVF centroids prune to n_probe lists (as ann_ivf_topk);
    within probed lists the scan scores CODES by ADC (per-query lookup table
    of query-subvector · codeword, built driver-side from the tiny query set
    and broadcast) — no float vectors move; the top refine·k shortlist per
    query joins back to the base table for exact cosine and the final top-k.

    100 TB shape: the wide scan touches m_sub-byte codes (16× smaller than
    raw float32 at 64-dim with the defaults), the only float-vector traffic
    is |queries|·refine·k rerank rows. Fully deterministic (hash-ordered
    sample, stable k-means init) → golden-oracle-able.

    Measured on the sf0.01 synthetic embeddings (2 000 × 64-dim,
    near-uniform directions — quantization's worst case), 20 queries,
    defaults: recall@10 vs `ann_ivf_topk` at the SAME pruning = **1.00**
    (the PQ shortlist loses nothing to rerank at refine=8); recall@10 vs
    brute force = 0.785, i.e. exactly the IVF-pruning ceiling — raise
    n_probe (10 → 0.87), not refine, to buy absolute recall. Gates in
    tests/test_operators.py."""
    spark = embeddings.sparkSession
    # float32 unit storage, as in ann_ivf_topk — the rerank upcasts to
    # float64 before scoring
    base = _register_persist(_drop_nan_units(embeddings.select(
        F.col("vec_id"),
        _unit_col(F.col("embedding").cast("array<double>")).cast("array<float>").alias("unit"),
    ), "unit").persist())

    sample = base.orderBy(F.xxhash64(F.col("vec_id").cast("string"))).limit(4096).toPandas()
    if not len(sample):  # corpus holds no valid (non-zero) vectors
        return _empty_topk(embeddings, queries, "vec_id", "query_id")
    mat = np.vstack([np.asarray(v, dtype=np.float64) for v in sample["unit"]])
    cents = _deterministic_centroids(mat, sample["vec_id"].to_numpy(), n_list)
    books = _train_pq_codebooks(mat, m_sub=m_sub, n_codes=n_codes)

    codes = _assign_and_encode_pq(base, cents, books, "vec_id")

    # tiny query set -> collect, unit-normalize, build per-query ADC tables
    # (NaN q_units excluded: a NaN LUT would make every ADC score NaN)
    qpdf = _drop_nan_units(
        queries.select(
            F.col("query_id"),
            _unit_col(F.col("query_vec").cast("array<double>")).alias("q_unit"),
        ),
        "q_unit",
    ).toPandas()
    if not len(qpdf):  # no valid (non-zero) query vectors
        return _empty_topk(embeddings, queries, "vec_id", "query_id")
    qmat = np.vstack([np.asarray(v, dtype=np.float64) for v in qpdf["q_unit"]])
    d = books.shape[2]
    # luts[qi]: (m_sub, n_codes) of q_sub . codeword
    luts = np.einsum("qjd,jcd->qjc", qmat.reshape(len(qmat), m_sub, d), books)
    qids = qpdf["query_id"].to_numpy()
    probe_lists = np.argsort(-(qmat @ cents.T), axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (int(q), int(l)) for qi, q in enumerate(qids) for l in probe_lists[qi]
    ]
    probes = spark.createDataFrame(probe_rows, ["query_id", "list_id"])
    bc_lut = spark.sparkContext.broadcast({int(q): luts[i] for i, q in enumerate(qids)})

    cand = codes.join(F.broadcast(probes), "list_id")
    adc_schema = T.StructType(
        [
            base.schema["vec_id"],
            T.StructField("query_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tables = bc_lut.value
        cols = np.arange(m_sub)
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            scores = np.empty(len(pdf), dtype=np.float64)
            qarr = pdf["query_id"].to_numpy()
            for q in np.unique(qarr):
                mask = qarr == q
                scores[mask] = tables[int(q)][cols, cm[mask]].sum(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "query_id": qarr, "adc": scores}
            )

    scored = cand.mapInPandas(_adc, schema=adc_schema)
    # two-phase shortlist: per-partition top-(refine·k) before the global
    # window, so no reducer ever materializes a whole probe set of ADC rows
    pruned = _local_topk(scored, "query_id", "vec_id", "adc", refine * k)
    w_short = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.col("vec_id"))
    shortlist = (
        pruned.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= refine * k)
        .select("query_id", "vec_id")
    )

    qrows = [(int(q), [float(x) for x in u]) for q, u in zip(qids, qmat)]
    qdf = spark.createDataFrame(qrows, schema=T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("q_unit", T.ArrayType(T.DoubleType())),
    ]))
    # broadcast the |queries|·refine·k shortlist explicitly — the plan is
    # pinned, not left to AQE's runtime size estimate (the base side is the
    # full corpus; a sort-merge fallback here would shuffle it)
    rerank = (
        base.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "cosine",
            _cosine_col(F.col("unit").cast("array<double>"), F.col("q_unit")),
        )
        .select("query_id", "vec_id", "cosine")
    )
    # rerank input is ≤ refine·k rows per query, so the window input is tiny
    return _global_topk(rerank, "query_id", "vec_id", "cosine", k)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via k-means + intra-cluster cosine
# ---------------------------------------------------------------------------


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    max_cluster: int = 1_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication") — k-means cluster the embedding
    space, then deduplicate WITHIN each cluster: a point is a semantic
    duplicate if its cosine similarity to any point ahead of it in the
    cluster's keep order exceeds `threshold`. Following the paper, the keep
    order puts the example with the LOWEST similarity to the cluster centroid
    first (ties broken by id, so the pass is fully deterministic), and a
    point is removed if it is `threshold`-similar to ANY earlier point —
    the published implementation's upper-triangular max over the sorted
    intra-cluster similarity matrix, not a kept-set scan.

    Scale shape:
    - Clustering reuses the IVF machinery: centroids trained driver-side on a
      deterministic 4096-row sample, assignment is the zero-shuffle Arrow
      argmax of `_assign_lists`; float32 unit storage as on the ANN scan path.
    - The ONLY shuffle is the groupBy(list_id) that co-locates each cluster
      for its greedy pass (one Arrow stage per cluster, `applyInPandas`).
    - The intra-cluster pass is the paper's O(|cluster|²/2) similarity
      triangle, computed BLOCKED (1024-row tiles against the prefix matrix)
      so peak memory is 1024·|cluster| floats, not |cluster|²; |cluster| is
      ~corpus/n_clusters — n_clusters is the knob that caps per-task cost,
      and `max_cluster` fails fast (with the skew-handling hint) instead of
      letting one hot cluster run quadratic and OOM a 100-TB job.

    Returns one row per input vector (NaN/zero vectors excluded at source,
    as everywhere on the ANN path): (vec_id, list_id, cent_sim, is_kept).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    spark = embeddings.sparkSession
    base = _register_persist(_drop_nan_units(embeddings.select(
        F.col("vec_id"),
        _unit_col(F.col("embedding").cast("array<double>")).cast("array<float>").alias("unit"),
    ), "unit").persist())
    sample = base.orderBy(F.xxhash64(F.col("vec_id").cast("string"))).limit(4096).toPandas()
    if not len(sample):
        return spark.createDataFrame([], schema=T.StructType([
            base.schema["vec_id"],
            T.StructField("list_id", T.IntegerType()),
            T.StructField("cent_sim", T.DoubleType()),
            T.StructField("is_kept", T.BooleanType()),
        ]))
    mat = np.vstack([np.asarray(v, dtype=np.float64) for v in sample["unit"]])
    cents = _deterministic_centroids(mat, sample["vec_id"].to_numpy(), n_clusters)
    assigned = _assign_lists(base, cents, "vec_id")
    bc_cents = spark.sparkContext.broadcast(np.ascontiguousarray(cents, dtype=np.float64))

    out_schema = T.StructType([
        base.schema["vec_id"],
        T.StructField("list_id", T.IntegerType()),
        T.StructField("cent_sim", T.DoubleType()),
        T.StructField("is_kept", T.BooleanType()),
    ])

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cluster:
            raise ValueError(
                f"semdedup cluster {int(pdf['list_id'].iloc[0])} holds {n} vectors"
                f" > max_cluster={max_cluster}; raise n_clusters (splits hot"
                f" clusters) or max_cluster if the quadratic pass is intended"
            )
        u = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["unit"]])
        cent = bc_cents.value[int(pdf["list_id"].iloc[0])]
        cent_sim = u @ cent
        order = np.lexsort((pdf["vec_id"].to_numpy(), cent_sim))  # cent_sim asc, id asc
        u = u[order]
        removed = np.zeros(n, dtype=bool)
        # blocked upper-triangular max: tile i compares against ALL prior rows
        block = 1024
        for s in range(1, n, block):
            e = min(s + block, n)
            tile = u[s:e] @ u[:e].T  # (e-s, e)
            # strict prefix only: mask j >= i within the tile
            for r in range(e - s):
                i = s + r
                if tile[r, :i].size and tile[r, :i].max() >= threshold:
                    removed[i] = True
        res = pd.DataFrame({
            "vec_id": pdf["vec_id"].to_numpy()[order],
            "list_id": pdf["list_id"].to_numpy()[order],
            "cent_sim": cent_sim[order],
            "is_kept": ~removed,
        })
        return res

    return assigned.groupBy("list_id").applyInPandas(_greedy, schema=out_schema)
