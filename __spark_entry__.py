"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship pipeline (pages → geotag extract → broadcast
  cell-prefiltered ray-cast PIP join → tile ownership) on sf0.001 fixtures.
- ``queries()``: one entry per implemented operator from SURVEY.md §2 plus the
  training-data ops; each callable takes (spark, sf_dir).
- ``oracle_sql()``: DuckDB-runnable ANSI SQL producing identical rows for every
  SQL-expressible query (see osm_data_3d_tiles_spark/plans/contract.py for the
  fp-determinism ground rules). Non-SQL-expressible kernels (MinHash/SimHash
  signatures, IVF ANN, Arrow multimodal plumbing, the html-extraction pipeline)
  are deterministic, so their oracle is a pinned golden parquet
  (scripts/make_goldens.py; determinism/regression pin — semantic correctness
  rides pytest: planted pairs, recall gates, round-trips, component oracles).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_data_3d_tiles_spark.plans.contract import (  # noqa: E402
    build_golden_oracles,
    build_queries,
    build_rows_only_queries,
    order_for_driver,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001-scale fixtures; driver checks rows>0."""
    from osm_data_3d_tiles_spark.plans.pipeline import flagship
    from osm_data_3d_tiles_spark.sources import fixtures as fx
    from osm_data_3d_tiles_spark.sources.tables import read_pages

    # The documented front door: in production `ref` is an Iceberg table name
    # ("catalog.db.pages", optionally time-travel-pinned); here it is the
    # fixture parquet path — read_pages enforces the (url, warc_ts, html,
    # text, lang) schema contract either way.
    pages = read_pages(spark, fx.ensure_fixture("pages", 0.001))
    buildings = fx.load_fixture(spark, "buildings", 0.001)
    out = flagship(pages, buildings)
    return (
        out["join_rows"]
        .join(out["owners"].select("osm_id", "tile_key"), "osm_id")
        .select("url", "osm_id", "tile_key")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    catalog = {name: fn for name, (fn, _sql) in build_queries().items()}
    catalog.update(build_rows_only_queries())
    # The driver checks only the first ~50 registry entries per round; lead
    # with the queries that have no green CORRECTNESS row yet (round-3 window
    # covered positions 0-49) so r03 ∪ r04 covers the whole catalog.
    return order_for_driver(catalog)


def oracle_sql() -> dict[str, str]:
    sqls = {name: sql for name, (_fn, sql) in build_queries().items()}
    sqls.update(build_golden_oracles())
    return sqls
