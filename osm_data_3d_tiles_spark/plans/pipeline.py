"""The flagship end-to-end plan: pages → extract → cell-encode → broadcast PIP join
→ tile ownership → per-tile batch tables, with per-partition lineage metrics and
snapshot checkpoints.

This is the Spark lifecycle mapping of the reference's serve/seed path (SURVEY.md §3):
MVT fetch/parse → parquet scan; per-tile worker → shuffle-by-tile stages; SQLite
claim → ownership window; B3DM batch table → groupBy(tile) pivot.

Scale shape:
- pages never shuffle until the final per-tile aggregation: the geotag parse is
  JVM regex, cell encode is Column math, the join side is broadcast;
- Python sees two doubles per geotagged page (the numpy EPSG:3857 projection,
  bit-exact) and the join candidates (the CSR-table PIP refine), never the html;
  the flagship does not run `extract_text` (`extract_pages` keeps it for the
  text invariant);
- checkpoints are parquet snapshot tables with a _SUCCESS-gated manifest, so a
  resumed job skips any completed stage (Iceberg-snapshot semantics in sandbox
  form); their lineage is read from the snapshots' parquet footers by the
  calling process, with no Spark job.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import mercator as m
from ..functions import text as tx
from ..operators.batch_table import batch_tables
from ..operators.cells import building_cells
from ..operators.ownership import owner_tiles
from ..operators.spatial_join import spatial_join

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text_extracted", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]
)


def extract_pages(pages: DataFrame) -> DataFrame:
    """html → (extracted text, geotag, EPSG:3857 point), one Arrow stage.

    The text extraction is the input-hint invariant surface: extract_text(html)
    must equal the `text` column byte-for-byte (asserted in tests, not here — the
    hot path does not pay for the comparison)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geo = tx.extract_geotag(pdf["html"])
            x, y = m.lonlat_to_3857(geo["lon"].to_numpy(), geo["lat"].to_numpy())
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "text_extracted": tx.extract_text(pdf["html"]),
                    "lat": geo["lat"],
                    "lon": geo["lon"],
                    "x": x,
                    "y": y,
                }
            )

    from ..session import with_min_parallelism

    narrow = with_min_parallelism(pages.select("url", "warc_ts", "lang", "html"))
    return narrow.mapInPandas(_extract, schema=EXTRACT_SCHEMA)


# a StructType, not a DDL string: parsing DDL needs a session at import
@F.pandas_udf(T.StructType([T.StructField(c, T.DoubleType()) for c in ("x", "y")]))
def _to_3857(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    """(lat, lon) → EPSG:3857 (x, y) with numpy `lonlat_to_3857`, so the points
    are bit-identical to `extract_pages`' (the JVM's log/tan differ in the last
    bits)."""
    x, y = m.lonlat_to_3857(lon.to_numpy(), lat.to_numpy())
    return pd.DataFrame({"x": x, "y": y})


# Marked nondeterministic only so the optimizer keeps filters on x/y above it:
# a composed plan's join infers isnotnull(cell(x, y)), and pushing that below
# the UDF would evaluate the UDF a second time, before the fan-out exchange.
_to_3857 = _to_3857.asNondeterministic()


def geotagged_points(pages: DataFrame) -> DataFrame:
    """Geotagged pages → (url, lat, lon, x, y), the flagship's extract.

    The geotag is parsed in the JVM: one `tx.GEO_META_JVM` regex pass over
    `cast(html as string)`, first tag wins, pages without a tag drop out. Only
    then does `with_min_parallelism` fan the rows out, so its round-robin
    exchange carries `url` and the tag, not the html. Python sees two doubles
    per page, for the projection.

    Same rows and bits as `extract_pages` + `lat` not null, under the contract
    in `functions/text.py` (ASCII `\\s`/`\\d`, correctly rounded parse). One
    difference: invalid UTF-8 decodes to U+FFFD, so such a page keeps its tag
    where `extract_pages` (strict decode) fails the task."""
    from ..session import with_min_parallelism

    tags = F.regexp_extract_all(F.col("html").cast("string"), F.lit(tx.GEO_META_JVM), F.lit(1))
    # explode of the first match: one regex pass, and tagless pages leave here
    # (a Filter on the tag would be pushed below and run the regex twice)
    tagged = pages.select("url", F.explode(F.slice(tags, 1, 1)).alias("tag"))
    points = with_min_parallelism(tagged).select(
        "url",
        F.substring_index("tag", ";", 1).cast("double").alias("lat"),
        F.substring_index("tag", ";", -1).cast("double").alias("lon"),
    )
    return points.withColumn("xy", _to_3857("lat", "lon")).select(
        "url", "lat", "lon", "xy.x", "xy.y"
    )


# ---------------------------------------------------------------------------
# lineage + metrics
# ---------------------------------------------------------------------------


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """(stage, partition_id, rows) — per-partition row counts of any DataFrame.
    One narrow pass. `checkpoint` writes the same table from the snapshot's
    parquet footers instead, without a job."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("rows"))
        .select(F.lit(stage).alias("stage"), F.col("_pid").alias("partition_id"), "rows")
    )


_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _write_footer_lineage(path: str, stage: str, lineage_dir: str) -> None:
    """Append (stage, partition_id, rows) for a written snapshot, read from its
    own parquet footers in this process: rows per written part file, keyed by
    the writing task's partition id. No Spark job."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for name in sorted(os.listdir(path)):
        part = _PART_FILE.match(name)
        if part:
            pid = int(part.group(1))
            rows[pid] = rows.get(pid, 0) + pq.read_metadata(os.path.join(path, name)).num_rows
    table = pa.table({
        "stage": pa.array([stage] * len(rows), pa.string()),
        "partition_id": pa.array(list(rows), pa.int32()),
        "rows": pa.array(list(rows.values()), pa.int64()),
    })
    os.makedirs(lineage_dir, exist_ok=True)
    pq.write_table(table, os.path.join(lineage_dir, f"part-{stage}-{uuid.uuid4().hex}.parquet"))


# ---------------------------------------------------------------------------
# snapshot checkpoints
# ---------------------------------------------------------------------------


def _snapshot_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def checkpoint(
    df_fn,
    spark: SparkSession,
    path: str,
    stage: str,
    metrics_dir: str | None = None,
    required_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Materialize stage output as a parquet snapshot once; resume = re-read.

    `df_fn` is a thunk so a resumed run never builds (or executes) the upstream
    plan for completed stages. `required_cols` guards resumes across code
    versions: a snapshot missing any of them (written by an older stage schema)
    is rebuilt instead of poisoning downstream plans with AnalysisException."""
    if _snapshot_done(path) and required_cols:
        have = set(spark.read.parquet(path).columns)
        if not set(required_cols) <= have:
            import shutil

            shutil.rmtree(path)
            if _snapshot_done(path):  # removal silently incomplete
                raise RuntimeError(
                    f"stale checkpoint snapshot {path!r} (missing columns "
                    f"{sorted(set(required_cols) - have)}) could not be removed; "
                    "delete it manually or point the run at a fresh workdir"
                )
    if not _snapshot_done(path):
        df = df_fn()
        df.write.mode("overwrite").parquet(path)
        if metrics_dir:
            _write_footer_lineage(path, stage, os.path.join(metrics_dir, "lineage"))
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# flagship pipeline
# ---------------------------------------------------------------------------


def flagship_join(pages: DataFrame, buildings: DataFrame) -> DataFrame:
    """(url, osm_id) exact join rows — pages inside building footprints."""
    pts = geotagged_points(pages).select("url", "x", "y")
    blds = buildings.filter(F.col("layer") == "buildings")
    return spatial_join(pts, blds, page_cols=("url",), building_cols=("osm_id",))


def flagship(
    pages: DataFrame, buildings: DataFrame, refine: str = "broadcast"
) -> dict[str, DataFrame]:
    """Full pipeline. Returns the named stage outputs:
    join_rows(url, osm_id), tile_assignment(osm_id, tile_key),
    tile_doc_counts(tile_key, docs), batch(batch tables per owner tile).

    `refine` forwards to spatial_join: 'broadcast' (default — the measured
    zero-shuffle plan for bounded per-extent dimensions) or 'cogroup' (the
    planet-scale path for unbounded building dimensions; benched as
    flagship_cogroup_secs so it has a recorded number, not just a parity
    test)."""
    from ..operators.cells import building_cells_multi

    blds = buildings.filter(F.col("layer") == "buildings")
    # one geometry pass covers both zoom levels: z16 drives tile ownership,
    # z20 drives the join prefilter
    multi = building_cells_multi(blds, (m.Z_LEAF, 20)).persist()
    cells = multi.filter(F.col("z") == m.Z_LEAF).select("osm_id", "tile_x", "tile_y")
    join_cells = multi.filter(F.col("z") == 20).select("osm_id", "tile_x", "tile_y")
    owners = owner_tiles(cells)

    pts = geotagged_points(pages).select("url", "x", "y")
    # refine pinned to 'broadcast': the per-extent buildings dimension is
    # bounded (BASELINE's measured plan is the zero-shuffle path) and 'auto'
    # would spend an extra count() job on the dimension inside every timed run;
    # planet-scale callers pass refine='cogroup' (or leave library-default
    # 'auto') on their own dimensions
    join_rows = spatial_join(
        pts, blds, z=20, page_cols=("url",), building_cols=("osm_id",),
        precomputed_cells=join_cells, refine=refine,
    )
    assignment = owners.select("osm_id", "tile_key")
    # assignment is one row per building (bounded dimension) — broadcast so the
    # page-scale join_rows side never shuffles
    tile_doc_counts = (
        join_rows.join(F.broadcast(assignment), "osm_id")
        .groupBy("tile_key")
        .agg(F.count("*").alias("docs"))
    )
    batch = batch_tables(blds.join(assignment, "osm_id"))
    return {
        "join_rows": join_rows,
        "tile_assignment": assignment,
        "tile_doc_counts": tile_doc_counts,
        "batch": batch,
    }


def run_with_checkpoints(
    spark: SparkSession,
    pages: DataFrame,
    buildings: DataFrame,
    workdir: str,
) -> dict[str, DataFrame]:
    """Checkpointed flagship run: each stage snapshots to parquet + lineage metrics;
    a rerun resumes from the last complete snapshot."""
    mdir = os.path.join(workdir, "metrics")
    blds = buildings.filter(F.col("layer") == "buildings")

    from ..operators.cells import building_cells_multi

    points = checkpoint(
        lambda: geotagged_points(pages).select("url", "x", "y"),
        spark, os.path.join(workdir, "points"), "extract", mdir,
    )
    # one triangulate+rasterize pass covers BOTH cell levels (same sharing as
    # flagship()): z16 drives ownership, z20 is the PIP-join prefilter
    # snapshot name 'cells_multi' (not the pre-multi-level 'cells'): a workdir
    # checkpointed by the single-level version must rebuild, not resume; the
    # required_cols guard rebuilds even a same-named stale snapshot
    multi = checkpoint(
        lambda: building_cells_multi(blds, (m.Z_LEAF, 20)),
        spark, os.path.join(workdir, "cells_multi"), "cells", mdir,
        required_cols=("z", "osm_id", "tile_x", "tile_y"),
    )
    cells = multi.filter(F.col("z") == m.Z_LEAF).select("osm_id", "tile_x", "tile_y")
    join_cells = multi.filter(F.col("z") == 20).select("osm_id", "tile_x", "tile_y")
    owners = checkpoint(
        lambda: owner_tiles(cells), spark, os.path.join(workdir, "owners"), "owners", mdir
    )
    # refine pinned to 'broadcast' as in flagship(): 'auto' would spend a
    # limit+count decision job on the bounded buildings dimension every run
    join_rows = checkpoint(
        lambda: spatial_join(points, blds, precomputed_cells=join_cells, refine="broadcast"),
        spark, os.path.join(workdir, "join_rows"), "join", mdir,
    )
    counts = checkpoint(
        lambda: join_rows.join(owners.select("osm_id", "tile_key"), "osm_id")
        .groupBy("tile_key")
        .agg(F.count("*").alias("docs")),
        spark, os.path.join(workdir, "tile_doc_counts"), "counts", mdir,
    )
    return {
        "points": points,
        "cells": cells,
        "owners": owners,
        "join_rows": join_rows,
        "tile_doc_counts": counts,
    }
