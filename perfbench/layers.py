"""The traced run's layer table.

Each layer's public function is called once over the persisted output of the
layer before it (`tracing.profile`), in the order the CLI command composes
them, so every number belongs to one layer. A layer the workload's command
does not run reports 0.
"""

from __future__ import annotations

import os
import statistics

import tracing as tr
from inputs import EXTENT, Z_LEAF

# (name, unit) of every per-layer metric, layer by layer
METRICS = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.s", "s"), ("sources.rows", "count"), ("sources.bytes_read", "bytes"),
    ("sources.shuffle_bytes", "bytes"),
    ("extract.s", "s"), ("extract.rows_in", "count"), ("extract.rows_out", "count"),
    ("extract.python_s", "s"), ("extract.python_boot_s", "s"),
    ("extract.py_bytes_sent", "bytes"), ("extract.py_bytes_received", "bytes"),
    ("spatial_join.plan_s", "s"), ("spatial_join.broadcast_bytes", "bytes"),
    ("spatial_join.candidates", "count"), ("spatial_join.matches", "count"),
    ("spatial_join.match_ratio", "ratio"), ("spatial_join.s", "s"),
    ("spatial_join.python_s", "s"), ("spatial_join.py_bytes_sent", "bytes"),
    ("spatial_join.skew", "ratio"),
    ("cells.s", "s"), ("cells.rows_out", "count"), ("cells.python_s", "s"),
    ("ownership.s", "s"), ("ownership.shuffle_bytes", "bytes"),
    ("checkpoint.write_s", "s"), ("checkpoint.lineage_s", "s"),
    ("checkpoint.bytes", "bytes"), ("checkpoint.files", "count"),
    ("pipeline.spark_jobs", "count"), ("pipeline.stages", "count"),
    ("pipeline.tasks", "count"), ("pipeline.failed_tasks", "count"),
    ("pipeline.peak_rss_mb", "MB"),
    ("params.s", "s"),
    ("build3d.s", "s"), ("build3d.python_s", "s"), ("build3d.tiles", "count"),
    ("build3d.vertices", "count"), ("build3d.shuffle_bytes", "bytes"),
    ("batch_table.s", "s"), ("batch_table.python_s", "s"),
    ("b3dm.s", "s"), ("b3dm.files", "count"), ("b3dm.bytes", "bytes"),
    ("tileset.s", "s"), ("tileset.bytes", "bytes"),
    ("trace.layer_sum_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.untraced_cpu_s", "s"),
    ("trace.traced_wall_s", "s"), ("trace.overhead_s", "s"),
]


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _buildings(spark, buildings_path):
    from pyspark.sql import functions as F

    return spark.read.parquet(buildings_path).filter(F.col("layer") == "buildings")


def flagship_layers(spark, spans, pages_path: str, buildings_path: str, scratch: str) -> dict:
    """`cli flagship` taken apart: scan, extract, cells, ownership, join and
    tile counts, then the five checkpoint snapshots with their lineage."""
    from pyspark.sql import functions as F

    from osm_data_3d_tiles_spark.operators.cells import building_cells_multi
    from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
    from osm_data_3d_tiles_spark.operators.spatial_join import spatial_join
    from osm_data_3d_tiles_spark.plans.pipeline import (
        checkpoint, geotagged_points, partition_lineage,
    )
    from osm_data_3d_tiles_spark.session import with_min_parallelism
    from osm_data_3d_tiles_spark.sources.tables import read_pages

    blds = _buildings(spark, buildings_path)
    src = tr.profile(
        with_min_parallelism(read_pages(spark, pages_path).select("url", "warc_ts", "lang", "html")),
        spans, "sources",
    )
    pts = tr.profile(geotagged_points(src["df"]).select("url", "x", "y"), spans, "extract")
    multi = tr.profile(building_cells_multi(blds, (Z_LEAF, 20)), spans, "cells")
    cells = multi["df"].filter(F.col("z") == Z_LEAF).select("osm_id", "tile_x", "tile_y")
    join_cells = multi["df"].filter(F.col("z") == 20).select("osm_id", "tile_x", "tile_y")
    own = tr.profile(owner_tiles(cells), spans, "ownership")
    with spans.span("spatial_join.plan") as plan:
        joined = spatial_join(pts["df"], blds, precomputed_cells=join_cells)
    sj = tr.profile(joined, spans, "spatial_join")
    counts = tr.profile(
        sj["df"].join(own["df"].select("osm_id", "tile_key"), "osm_id")
        .groupBy("tile_key").agg(F.count("*").alias("docs")),
        spans, "counts",
    )

    write_s = lineage_s = 0.0
    mdir = os.path.join(scratch, "metrics")
    # snapshot directories and stage names as run_with_checkpoints has them
    for snap, stage, layer in (("points", "extract", pts), ("cells_multi", "cells", multi),
                               ("owners", "owners", own), ("join_rows", "join", sj),
                               ("tile_doc_counts", "counts", counts)):
        path = os.path.join(scratch, snap)
        with spans.span("checkpoint.write", stage=stage) as w:
            checkpoint(lambda: layer["df"], spark, path, stage)
        with spans.span("checkpoint.lineage", stage=stage) as lin:
            partition_lineage(spark.read.parquet(path), stage).write.mode("append").parquet(
                os.path.join(mdir, "lineage"))
        write_s += w["end"] - w["start"]
        lineage_s += lin["end"] - lin["start"]

    part_rows = [r[1] for r in sj["df"].groupBy(F.spark_partition_id()).count().collect()]
    candidates = tr.metric_sum(sj["nodes"], "numOutputRows", lambda c: c == "BroadcastHashJoinExec")
    out = {
        "sources.s": src["s"], "sources.rows": src["rows"],
        "sources.bytes_read": tr.metric_sum(src["nodes"], "filesSize", lambda c: c == "FileSourceScanExec"),
        "sources.shuffle_bytes": tr.shuffle_bytes(src["nodes"]),
        "extract.s": pts["s"], "extract.rows_in": src["rows"], "extract.rows_out": pts["rows"],
        "spatial_join.plan_s": plan["end"] - plan["start"],
        "spatial_join.broadcast_bytes": tr.metric_sum(
            sj["nodes"], "dataSize", lambda c: c == "BroadcastExchangeExec"),
        "spatial_join.candidates": candidates, "spatial_join.matches": sj["rows"],
        "spatial_join.match_ratio": sj["rows"] / candidates if candidates else 0.0,
        "spatial_join.s": sj["s"],
        "spatial_join.skew": max(part_rows) / statistics.median(part_rows) if part_rows else 0.0,
        "cells.s": multi["s"], "cells.rows_out": multi["rows"],
        "cells.python_s": tr.python_counters(multi["nodes"])["python_s"],
        "ownership.s": own["s"], "ownership.shuffle_bytes": tr.shuffle_bytes(own["nodes"]),
        "checkpoint.write_s": write_s, "checkpoint.lineage_s": lineage_s,
    }
    out.update({f"extract.{k}": v for k, v in tr.python_counters(pts["nodes"]).items()})
    py = tr.python_counters(sj["nodes"])
    out["spatial_join.python_s"] = py["python_s"]
    out["spatial_join.py_bytes_sent"] = py["py_bytes_sent"]
    return out


def seed_layers(spark, spans, buildings_path: str, out_dir: str) -> dict:
    """`cli seed` taken apart: cells, ownership, the owner join, params,
    3D build, batch tables, the b3dm sink and the tileset."""
    from pyspark.sql import functions as F

    from osm_data_3d_tiles_spark.functions.params import with_building_params
    from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
    from osm_data_3d_tiles_spark.operators.build3d import build_tiles_3d
    from osm_data_3d_tiles_spark.operators.cells import building_cells
    from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
    from osm_data_3d_tiles_spark.plans.tileset import write_tileset
    from osm_data_3d_tiles_spark.sinks.b3dm import seed_tiles

    blds = _buildings(spark, buildings_path)
    cells = tr.profile(building_cells(blds), spans, "cells")
    own = tr.profile(owner_tiles(cells["df"]).select("osm_id", "tile_key"), spans, "ownership")
    assigned = tr.profile(blds.join(own["df"], "osm_id"), spans, "assign")
    params = tr.profile(with_building_params(assigned["df"]), spans, "params")
    b3 = tr.profile(build_tiles_3d(params["df"]), spans, "build3d")
    batch = tr.profile(batch_tables(assigned["df"]), spans, "batch_table")
    with spans.span("b3dm") as sink:
        seed_tiles(b3["df"], batch["df"], out_dir)
    with spans.span("tileset") as ts:
        write_tileset(out_dir, EXTENT, mode="mercator")

    b3dm_files, b3dm_bytes = dir_size(os.path.join(out_dir, "b3dm"))
    _, sub_bytes = dir_size(os.path.join(out_dir, "subtiles"))
    return {
        "cells.s": cells["s"], "cells.rows_out": cells["rows"],
        "cells.python_s": tr.python_counters(cells["nodes"])["python_s"],
        "ownership.s": own["s"], "ownership.shuffle_bytes": tr.shuffle_bytes(own["nodes"]),
        "params.s": params["s"],
        "build3d.s": b3["s"], "build3d.python_s": tr.python_counters(b3["nodes"])["python_s"],
        "build3d.tiles": b3["rows"],
        "build3d.vertices": int(b3["df"].agg(F.sum("n_vertices")).first()[0] or 0),
        "build3d.shuffle_bytes": tr.shuffle_bytes(b3["nodes"]),
        "batch_table.s": batch["s"], "batch_table.python_s": tr.python_counters(batch["nodes"])["python_s"],
        "b3dm.s": sink["end"] - sink["start"], "b3dm.files": b3dm_files, "b3dm.bytes": b3dm_bytes,
        "tileset.s": ts["end"] - ts["start"],
        "tileset.bytes": os.path.getsize(os.path.join(out_dir, "tileset.json")) + sub_bytes,
    }


# top-level spans of the traced run that are not layers
NOT_LAYERS = ("session", "warmup", "untraced", "pipeline")


def layer_sum(spans) -> float:
    """Seconds of every top-level layer span."""
    return sum(r["duration_s"] for r in spans.table()
               if r["parent"] is None and r["name"] not in NOT_LAYERS)
