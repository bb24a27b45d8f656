"""Parquet layouts for scale: spatial clustering and small-file compaction.

- `write_clustered` (`cli cluster-layout`) partitions a table by the high
  bits of a space-filling-curve cell id and sorts each file by the full cell,
  so a spatial range scan prunes directories and parquet row groups.
- `compact_layout` (`cli compact`) rewrites a fragmented parquet directory
  into files of about a target size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_clustered(
    df: DataFrame, path: str, cell_col: str = "cell", prefix_shift: int = 48
) -> None:
    """Persist `df` spatially CLUSTERED by a space-filling-curve cell id:
    directory-partitioned on the cell's high bits, sorted by the full cell
    within files.

    This is the read-path layout lever at 100 TB: both our hex lattice ids
    (functions/hexgrid.py) and S2 ids (functions/s2.py) are Hilbert/lattice
    curves, so a spatial range is a small set of contiguous id ranges — with
    this layout a range scan (a) prunes whole directories via the
    `cell_prefix` partition column (Catalyst PartitionFilters, no file even
    listed), and (b) prunes row groups inside surviving files via parquet
    min/max stats on the sorted `cell` column (PushedFilters). It is the
    parquet-path equivalent of Iceberg's `truncate(cell)` partition
    transform + a sort order on cell.

    A reader must state the prefix bounds itself (`cell >> prefix_shift`):
    Catalyst does not infer them from a predicate on `cell`.

    `prefix_shift` trades directory count against pruning granularity: keep
    distinct prefixes ~ O(10^3-10^4) at the target scale (small-files rule).
    The repartition on cell_prefix means one task owns each directory, so
    files stay few and internally sorted.
    """
    prefix = F.shiftrightunsigned(F.col(cell_col).cast("long"), prefix_shift)
    (
        df.withColumn("cell_prefix", prefix)
        .repartition("cell_prefix")
        .sortWithinPartitions("cell_prefix", cell_col)
        .write.mode("overwrite")
        .partitionBy("cell_prefix")
        .parquet(path)
    )


def compact_layout(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target_bytes files (the classic
    small-files maintenance pass — the parquet-path analog of Iceberg's
    rewrite_data_files). Returns the number of output partitions written.

    Incremental ingest (streaming micro-batches, per-task partitionBy
    writes) leaves thousands of KB-sized files; at 100 TB that turns every
    scan into an open/footer-parse storm and starves the scheduler with
    tiny splits. The rewrite sizes output partitions from the layout's
    CURRENT bytes (file metadata only — no data read for the estimate) and
    re-sorts within partitions when `sort_cols` is given so min/max
    row-group pruning survives compaction.

    Writes to `out_path` (swap-on-success is the caller's move): a
    maintenance job must never destroy the only copy mid-rewrite.
    """
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    if total == 0:
        # os.walk sees nothing for non-local URIs (hdfs://, s3a://) or an
        # empty dir — sizing from 0 would repartition the WHOLE dataset to 1
        # and write a single giant file. Fail loud; remote layouts need a
        # FileSystem-API sizing pass instead.
        raise ValueError(
            f"compact_layout: no local parquet bytes found under {path!r} "
            "(remote URI or empty directory?)"
        )
    n_out = max(1, -(-total // target_bytes))  # ceil
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(out_path)
    return n_out
