"""Scale-ops tests: salted two-phase counts (skew), per-partition lineage
metrics, and snapshot checkpoint/resume semantics (SURVEY.md §4.2 items 2/5/6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.operators.spatial_join import salted_count
from osm_data_3d_tiles_spark.plans.pipeline import (
    checkpoint,
    partition_lineage,
    run_with_checkpoints,
)
from osm_data_3d_tiles_spark.sources import fixtures as fx


class TestSaltedCount:
    def test_equals_plain_group_count(self, spark):
        # skewed key: one hot value holding ~half the rows
        df = spark.range(10000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id") % 50).alias("key")
        )
        plain = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()}
        salted = {r["key"]: r["count"] for r in salted_count(df, ["key"], n_salt=8).collect()}
        assert salted == plain

    def test_two_phase_plan_shape(self, spark):
        df = spark.range(100).select((F.col("id") % 5).alias("key"))
        plan = salted_count(df, ["key"])._jdf.queryExecution().optimizedPlan().toString()
        # two aggregate levels: pre-agg on (key, salt), final on key
        assert plan.count("Aggregate") >= 2


class TestHotCellJoin:
    def test_pip_join_survives_single_hot_cell(self, spark):
        """Dense-city skew, worst case: EVERY point in one z20 cell over one
        building. The broadcast cell-prefilter join has no reduce side to skew
        (candidates stream through map tasks), so this completes with exact
        results at any point count — the property the 100 TB story rests on."""
        import numpy as np

        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.operators.spatial_join import spatial_join

        span = m.tile_span(20)
        x0 = -m.HALF_SIZE + 512_000 * span  # an arbitrary z20 cell
        y0 = m.HALF_SIZE - 512_000 * span
        ring = [[x0 + 1, y0 - 1], [x0 + span - 1, y0 - 1],
                [x0 + span - 1, y0 - span + 1], [x0 + 1, y0 - span + 1], [x0 + 1, y0 - 1]]
        blds = spark.createDataFrame(
            [(1, [ring], ["outer"])],
            "osm_id long, geometry array<array<array<double>>>, ring_types array<string>",
        )
        n = 20_000
        rng = np.random.RandomState(3)
        px = x0 + 2 + (span - 4) * rng.rand(n)
        py = y0 - 2 - (span - 4) * rng.rand(n)
        pts = spark.createDataFrame(
            [(f"u{i}", float(px[i]), float(py[i])) for i in range(n)],
            "url string, x double, y double",
        )
        out = spatial_join(pts, blds)
        assert out.count() == n  # every point inside, none dropped, no OOM/skew stall
    def test_rows_sum_to_count(self, spark):
        df = spark.range(1234).repartition(7)
        lin = partition_lineage(df, "probe").collect()
        assert sum(r["rows"] for r in lin) == 1234
        assert all(r["stage"] == "probe" for r in lin)
        assert len({r["partition_id"] for r in lin}) == len(lin)


class TestCheckpointResume:
    def test_resume_skips_completed_stage(self, spark, tmp_path):
        path = str(tmp_path / "snap")
        calls = []

        def thunk():
            calls.append(1)
            return spark.range(50).select(F.col("id"))

        out1 = checkpoint(thunk, spark, path, "stage1", metrics_dir=str(tmp_path / "m"))
        assert out1.count() == 50
        assert calls == [1]
        assert os.path.exists(os.path.join(path, "_SUCCESS"))

        def poisoned():
            raise AssertionError("resume must not rebuild a completed stage")

        out2 = checkpoint(poisoned, spark, path, "stage1", metrics_dir=str(tmp_path / "m"))
        assert out2.count() == 50

        lineage = spark.read.parquet(str(tmp_path / "m" / "lineage"))
        assert lineage.agg(F.sum("rows")).collect()[0][0] == 50  # written once

    def test_resume_rebuilds_on_stale_schema(self, spark, tmp_path):
        # a snapshot written by an older stage version (missing a now-required
        # column) must be rebuilt, not resumed into an AnalysisException
        path = str(tmp_path / "snap")
        spark.range(10).select(F.col("id")).write.parquet(path)

        out = checkpoint(
            lambda: spark.range(5).select(F.col("id"), F.lit(16).alias("z")),
            spark, path, "stage1", required_cols=("z", "id"),
        )
        assert out.count() == 5
        assert set(out.columns) == {"id", "z"}

        def poisoned():
            raise AssertionError("schema-valid snapshot must still resume")

        out2 = checkpoint(poisoned, spark, path, "stage1", required_cols=("z", "id"))
        assert out2.count() == 5

    def test_full_pipeline_resume_identical(self, spark, tmp_path):
        pages = fx.load_fixture(spark, "pages", 0.001)
        buildings = fx.load_fixture(spark, "buildings", 0.001)
        wd = str(tmp_path / "wd")
        out1 = run_with_checkpoints(spark, pages, buildings, wd)
        rows1 = sorted(tuple(r) for r in out1["join_rows"].collect())
        # resume: all snapshots exist; results identical
        out2 = run_with_checkpoints(spark, pages, buildings, wd)
        rows2 = sorted(tuple(r) for r in out2["join_rows"].collect())
        assert rows1 == rows2
        lineage = spark.read.parquet(os.path.join(wd, "metrics", "lineage"))
        stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
        assert {"extract", "cells", "owners", "join"} <= stages

    def test_footer_lineage_sums_to_snapshot_rows(self, spark, tmp_path):
        """Lineage comes from the snapshots' parquet footers: per stage, its
        rows sum to the snapshot's row count, one row per written partition."""
        pages = fx.load_fixture(spark, "pages", 0.001)
        buildings = fx.load_fixture(spark, "buildings", 0.001)
        wd = str(tmp_path / "wd")
        run_with_checkpoints(spark, pages, buildings, wd)
        lineage = spark.read.parquet(os.path.join(wd, "metrics", "lineage")).toPandas()
        snapshots = {"extract": "points", "cells": "cells_multi", "owners": "owners",
                     "join": "join_rows", "counts": "tile_doc_counts"}
        assert set(lineage["stage"]) == set(snapshots)
        for stage, snap in snapshots.items():
            rows = lineage[lineage["stage"] == stage]
            assert rows["partition_id"].is_unique
            assert rows["rows"].sum() == spark.read.parquet(os.path.join(wd, snap)).count() > 0
