"""Command-line entry points — the engine's equivalent of the reference CLI
(/root/reference/main.ts:19-116: serve / generate-tileset / seed-b3dm), shaped
for `spark-submit --py-files`.

Usage (local):
    python -m osm_data_3d_tiles_spark.cli generate-tileset --out /tmp/export
    python -m osm_data_3d_tiles_spark.cli seed --out /tmp/export --sf 0.001
    python -m osm_data_3d_tiles_spark.cli flagship --sf 0.001 --workdir /tmp/ckpt

Usage (cluster):
    scripts/package.sh                     # builds dist/osm_data_3d_tiles_spark.zip
    spark-submit --py-files dist/osm_data_3d_tiles_spark.zip \
        $(python -c 'import osm_data_3d_tiles_spark.cli as c; print(c.__file__)') \
        seed --out s3a://bucket/export --sf 1.0

The serve loop itself is out of engine scope (SURVEY.md §2.1); `seed` is the
batch materialization the reference recommends for performance (readme.md:190-191),
and any static file server can serve its output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(
        app_name=f"osm-3d-tiles-{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_generate_tileset(args) -> int:
    """Tileset JSON tree only (generate-tileset.ts) — driver-side, no Spark job."""
    from .plans.tileset import write_tileset
    from .sources import fixtures as fx

    extent = tuple(args.extent) if args.extent else fx.FIXTURE_EXTENT
    path = write_tileset(args.out, extent, mode=args.mode)
    print(json.dumps({"tileset": path, "mode": args.mode}))
    return 0


def cmd_seed(args) -> int:
    """Materialize every owned tile as B3DM + tileset JSONs (seed-b3dm.ts, but
    distributed: ownership window → building params → per-tile build, which
    also emits the tile's batch table → Arrow b3dm write on the executors)."""
    from pyspark.sql import functions as F

    from .functions.params import with_building_params
    from .operators.build3d import build_tiles_3d
    from .operators.cells import building_cells
    from .operators.ownership import owner_tiles
    from .plans.tileset import write_tileset
    from .sinks.b3dm import seed_tiles
    from .sources import fixtures as fx

    spark = _spark(args)
    blds = fx.load_fixture(spark, "buildings", args.sf).filter(F.col("layer") == "buildings")
    owners = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
    assigned = with_building_params(blds.join(owners, "osm_id"))
    n = seed_tiles(build_tiles_3d(assigned), None, args.out)
    write_tileset(args.out, fx.FIXTURE_EXTENT, mode=args.mode)
    print(json.dumps({"tiles_written": n, "out": args.out}))
    return 0


def cmd_flagship(args) -> int:
    """The flagship pages→join→ownership pipeline with snapshot checkpoints.
    `--pages` points at the production input — an Iceberg catalog table
    (dotted name, optional time travel pin) or a parquet path — and falls
    back to the deterministic sf fixture when omitted."""
    from .plans.pipeline import run_with_checkpoints, snapshot_rows
    from .sources import fixtures as fx
    from .sources.tables import read_pages

    spark = _spark(args)
    if args.pages:
        pages = read_pages(
            spark, args.pages,
            snapshot_id=args.pages_snapshot_id,
        )
    else:
        pages = fx.load_fixture(spark, "pages", args.sf)
    buildings = fx.load_fixture(spark, "buildings", args.sf)
    run_with_checkpoints(spark, pages, buildings, args.workdir)
    # row counts from the snapshots' parquet footers: no Spark job
    counts = {key: snapshot_rows(os.path.join(args.workdir, stage)) for key, stage in (
        ("join_rows", "join_rows"), ("owned_buildings", "owners"),
        ("tiles_with_docs", "tile_doc_counts"))}
    print(json.dumps({**counts, "workdir": args.workdir}))
    return 0


def cmd_ingest_mvt(args) -> int:
    """Decode a {z}/{x}/{y}.pbf tree (the reference's TILE_URL layout) into a
    buildings parquet table ready for the flagship join / seed path."""
    from .sources.mvt import mvt_tiles_to_buildings, read_pbf_dir

    spark = _spark(args)
    tiles = read_pbf_dir(spark, args.src)
    out = mvt_tiles_to_buildings(tiles, layer=args.layer)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"buildings_written": n, "out": args.out}))
    return 0


def cmd_compact(args) -> int:
    """Rewrite a fragmented parquet layout into ~target-size files."""
    from .sinks.layout import compact_layout

    spark = _spark(args)
    n = compact_layout(
        spark, args.src, args.out,
        target_bytes=args.target_mb * 1024 * 1024,
        sort_cols=args.sort_by.split(",") if args.sort_by else None,
    )
    print(json.dumps({"src": args.src, "out": args.out, "files": n}))
    return 0


def cmd_cluster_layout(args) -> int:
    """Write a table SFC-clustered by a cell column (Z-ORDER-style layout)."""
    from .sinks.layout import write_clustered

    spark = _spark(args)
    df = spark.read.parquet(args.src)
    write_clustered(df, args.out, cell_col=args.cell_col,
                    prefix_shift=args.prefix_shift)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"rows": n, "out": args.out}))
    return 0


def cmd_sql(args) -> int:
    """Run a SQL string/file against the engine's registered views+functions."""
    from .sql import run_sql

    if bool(args.query) == bool(args.file):
        print("sql: exactly one of --query or --file is required", file=sys.stderr)
        return 2
    if args.file:
        with open(args.file) as fh:
            query = fh.read()
    else:
        query = args.query
    spark = _spark(args)
    df = run_sql(spark, query, sf_dir=args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    else:
        rows = df.limit(args.limit).collect()
        print(json.dumps({"rows": [r.asDict() for r in rows]}, default=str))
    return 0


def cmd_atlas(args) -> int:
    """Write the packed diffuse texture atlas PNG (procedural frames)."""
    from .functions.atlas import write_atlas_png

    path = write_atlas_png(args.out)
    print(json.dumps({"atlas": path, "bytes": os.path.getsize(path)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="osm-data-3d-tiles-spark")
    p.add_argument("--master", default=None, help="Spark master (default: env/local)")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate-tileset", help="write tileset.json + subtiles")
    g.add_argument("--out", required=True)
    g.add_argument("--mode", choices=("mercator", "ecef", "custombox"), default="mercator")
    g.add_argument("--extent", nargs=4, type=float, default=None,
                   metavar=("MINX", "MINY", "MAXX", "MAXY"))
    g.set_defaults(fn=cmd_generate_tileset)

    s = sub.add_parser("seed", help="materialize all B3DM tiles (batch)")
    s.add_argument("--out", required=True)
    s.add_argument("--sf", type=float, default=0.001)
    s.add_argument("--mode", choices=("mercator", "ecef", "custombox"), default="mercator")
    s.set_defaults(fn=cmd_seed)

    f = sub.add_parser("flagship", help="pages→PIP-join→ownership with checkpoints")
    f.add_argument("--pages", default=None,
                   help="pages input: Iceberg table name (catalog.db.pages) or parquet path; default = sf fixture")
    f.add_argument("--pages-snapshot-id", type=int, default=None,
                   help="Iceberg snapshot pin for --pages (catalog tables only)")
    f.add_argument("--sf", type=float, default=0.001)
    f.add_argument("--workdir", required=True)
    f.set_defaults(fn=cmd_flagship)

    i = sub.add_parser("ingest-mvt", help="decode {z}/{x}/{y}.pbf tiles → buildings parquet")
    i.add_argument("--src", required=True)
    i.add_argument("--out", required=True)
    i.add_argument("--layer", default="buildings")
    i.set_defaults(fn=cmd_ingest_mvt)

    a = sub.add_parser("atlas", help="write the packed diffuse atlas PNG")
    a.add_argument("--out", required=True)
    a.set_defaults(fn=cmd_atlas)

    c = sub.add_parser("compact", help="rewrite a layout into ~target-size files")
    c.add_argument("--src", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--sort-by", default=None, help="comma-separated sort columns")
    c.set_defaults(fn=cmd_compact)

    z = sub.add_parser("cluster-layout", help="SFC-cluster a table by a cell column")
    z.add_argument("--src", required=True)
    z.add_argument("--out", required=True)
    z.add_argument("--cell-col", default="cell")
    z.add_argument("--prefix-shift", type=int, default=48)
    z.set_defaults(fn=cmd_cluster_layout)

    sq = sub.add_parser("sql", help="run SQL against the engine views + functions")
    sq.add_argument("--sf-dir", default=None, help="parquet table directory")
    sq.add_argument("--query", default=None)
    sq.add_argument("--file", default=None)
    sq.add_argument("--out", default=None, help="write result parquet here")
    sq.add_argument("--limit", type=int, default=20)
    sq.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
