"""The flagship end-to-end plan: pages → extract → cell-encode → broadcast PIP join
→ tile ownership → per-tile doc counts, with per-partition lineage metrics and
snapshot checkpoints.

This is the Spark lifecycle mapping of the reference's serve/seed path (SURVEY.md §3):
MVT fetch/parse → parquet scan; per-tile worker → shuffle-by-tile stages; SQLite
claim → ownership window. (The B3DM batch tables are the seed path's, `cli seed`.)

The flagship is declared once, as the ordered stage table of `flagship_stages`:
each stage has its output name (also its snapshot directory), its lineage stage
name and a builder over the earlier stages' outputs. Two runners walk it:
`flagship()` builds every stage in memory; `run_with_checkpoints()` sends each
one through `checkpoint()`.

Scale shape:
- pages never shuffle until the final per-tile aggregation: the geotag parse is
  JVM regex, cell encode is Column math, the join side is broadcast;
- Python sees two doubles per geotagged page (the numpy EPSG:3857 projection,
  bit-exact) and the join candidates (the CSR-table PIP refine), never the html;
  the flagship does not run `extract_text`;
- checkpoints are parquet snapshot tables with a _SUCCESS-gated manifest, so a
  resumed job skips any completed stage (Iceberg-snapshot semantics in sandbox
  form); their lineage is read from the snapshots' parquet footers by the
  calling process, with no Spark job.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import mercator as m
from ..functions import text as tx
from ..operators.cells import building_cells_multi
from ..operators.ownership import owner_tiles
from ..operators.spatial_join import spatial_join

# a StructType, not a DDL string: parsing DDL needs a session at import
@F.pandas_udf(T.StructType([T.StructField(c, T.DoubleType()) for c in ("x", "y")]))
def _to_3857(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    """(lat, lon) → EPSG:3857 (x, y) with numpy `lonlat_to_3857`, so the points
    are bit-identical to the Python reference `tx.extract_geotag` +
    `lonlat_to_3857` (the JVM's log/tan differ in the last bits)."""
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

    Same rows and bits as `tx.extract_geotag` + `lonlat_to_3857` with `lat`
    not null, under the contract in `functions/text.py` (ASCII `\\s`/`\\d`,
    correctly rounded parse, invalid UTF-8 decoded to U+FFFD, so such a page
    keeps its tag; `tx.extract_text` stays strict)."""
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
    """Write (stage, partition_id, rows) for a written snapshot, read from its
    own parquet footers in this process: rows per written part file, keyed by
    the writing task's partition id. No Spark job. One file per stage, replaced
    whole (temporary file, then `os.replace`), so a rebuilt stage leaves no
    lineage of the snapshot it replaced."""
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
    final = os.path.join(lineage_dir, f"part-{stage}.parquet")
    # a dot-prefixed name: parquet readers skip it until it is renamed
    tmp = os.path.join(lineage_dir, f".part-{stage}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


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
# the flagship: one stage table, two runners
# ---------------------------------------------------------------------------


class Stage(NamedTuple):
    name: str  # output key and snapshot directory
    lineage: str  # stage name in the lineage table
    build: Callable[[dict[str, DataFrame]], DataFrame]  # earlier outputs → output
    required_cols: tuple[str, ...] = ()  # resume guard, see `checkpoint`
    cache: bool = False  # persisted by the in-memory runner


def _cells_at(out: dict[str, DataFrame], z: int) -> DataFrame:
    return out["cells_multi"].filter(F.col("z") == z).select("osm_id", "tile_x", "tile_y")


def _doc_counts(out: dict[str, DataFrame]) -> DataFrame:
    # the owners side is one row per building (a bounded dimension), broadcast
    # so the page-scale join_rows side never shuffles
    assignment = F.broadcast(out["owners"].select("osm_id", "tile_key"))
    return (
        out["join_rows"].join(assignment, "osm_id")
        .groupBy("tile_key")
        .agg(F.count("*").alias("docs"))
    )


def flagship_stages(
    pages: DataFrame, buildings: DataFrame, refine: str = "broadcast"
) -> tuple[Stage, ...]:
    """The flagship's ordered stage table over `pages` and the `buildings`
    layer of `buildings`:

    - points(url, x, y): the geotag extract;
    - cells_multi(osm_id, z, tile_x, tile_y): one geometry pass covers both
      cell levels, z16 for ownership and z20 for the join prefilter; it feeds
      two stages, so the in-memory runner caches it;
    - owners(osm_id, tile_x, tile_y, tile_key): first-claimer ownership;
    - join_rows(url, osm_id): the exact PIP join;
    - tile_doc_counts(tile_key, docs).

    `refine` forwards to `spatial_join`. 'broadcast' is the measured
    zero-shuffle plan for a bounded per-extent dimension, and spends no
    decision job as 'auto' would; 'cogroup' is the planet-scale path, benched
    as flagship_cogroup_secs."""
    blds = buildings.filter(F.col("layer") == "buildings")
    return (
        Stage("points", "extract", lambda out: geotagged_points(pages).select("url", "x", "y")),
        # snapshot name 'cells_multi', not the single-level 'cells': an older
        # workdir rebuilds, and required_cols rebuilds a stale same-named one
        Stage("cells_multi", "cells", lambda out: building_cells_multi(blds, (m.Z_LEAF, 20)),
              required_cols=("z", "osm_id", "tile_x", "tile_y"), cache=True),
        Stage("owners", "owners", lambda out: owner_tiles(_cells_at(out, m.Z_LEAF))),
        Stage("join_rows", "join", lambda out: spatial_join(
            out["points"], blds, precomputed_cells=_cells_at(out, 20), refine=refine)),
        Stage("tile_doc_counts", "counts", _doc_counts),
    )


def flagship(
    pages: DataFrame, buildings: DataFrame, refine: str = "broadcast"
) -> dict[str, DataFrame]:
    """The flagship in memory: every stage output by its stage name. The
    cached `cells_multi` stays cached until the caller unpersists it."""
    out: dict[str, DataFrame] = {}
    for stage in flagship_stages(pages, buildings, refine):
        df = stage.build(out)
        out[stage.name] = df.persist() if stage.cache else df
    return out


def run_with_checkpoints(
    spark: SparkSession,
    pages: DataFrame,
    buildings: DataFrame,
    workdir: str,
) -> dict[str, DataFrame]:
    """The flagship checkpointed: each stage snapshots to `workdir/<stage>` with
    its lineage under `workdir/metrics`; a rerun resumes from the completed
    snapshots. Every stage output by its stage name, read from its snapshot."""
    mdir = os.path.join(workdir, "metrics")
    out: dict[str, DataFrame] = {}
    for stage in flagship_stages(pages, buildings):
        out[stage.name] = checkpoint(
            partial(stage.build, out), spark, os.path.join(workdir, stage.name),
            stage.lineage, mdir, required_cols=stage.required_cols,
        )
    return out
