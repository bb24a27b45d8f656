"""Tests for heat-map LOD thinning: per-cell survivor counts and the z16
tile-size constant."""

from __future__ import annotations

import pytest

from osm_data_3d_tiles_spark.operators.lod import TILE_SIZE, lod_thinning


class TestLodThinning:
    def test_per_cell_counts(self, spark):
        # 100 instances in one cell, 1 instance in another
        rows = [(i, 1.0 + (i % 10) * 0.1, 1.0 + (i // 10) * 0.1) for i in range(100)]
        rows.append((1000, TILE_SIZE * 0.9, TILE_SIZE * 0.9))
        df = spark.createDataFrame(rows, ["instance_id", "local_x", "local_y"])
        out = lod_thinning(df, fraction=0.25).toPandas()
        counts = out.groupby("heat_cell").size()
        assert counts.max() == 25  # round(100 * 0.25)
        assert counts.min() == 1  # lone instance survives (min 1)
        # survivors are the lowest ids (deterministic replacement for getRandom)
        big_cell = out[out["heat_cell"] == out["heat_cell"].mode()[0]]
        assert sorted(big_cell["instance_id"]) == list(range(25))

    def test_tile_size_is_z16_span(self):
        assert TILE_SIZE == pytest.approx(611.4962158203125)  # the :535 constant
