"""Small-files compaction tests: `compact_layout` merges fragments into
target-size files and keeps every row."""

from __future__ import annotations


class TestCompaction:
    def test_small_files_merge_and_content_survives(self, spark, tmp_path):
        from osm_data_3d_tiles_spark.sinks.layout import compact_layout

        src = str(tmp_path / "frag")
        dst = str(tmp_path / "compact")
        df = spark.range(0, 20_000).selectExpr("id", "id * 7 % 1000 as v")
        df.repartition(64).write.parquet(src)
        import glob
        assert len(glob.glob(f"{src}/*.parquet")) == 64

        n = compact_layout(spark, src, dst, target_bytes=1 << 30, sort_cols=["id"])
        assert n == 1
        out_files = glob.glob(f"{dst}/*.parquet")
        assert len(out_files) == 1
        back = spark.read.parquet(dst)
        assert back.count() == 20_000
        assert back.agg({"v": "sum"}).first()[0] == df.agg({"v": "sum"}).first()[0]

    def test_target_sizing_splits_output(self, spark, tmp_path):
        from osm_data_3d_tiles_spark.sinks.layout import compact_layout

        src = str(tmp_path / "frag2")
        dst = str(tmp_path / "compact2")
        spark.range(0, 50_000).selectExpr("id", "uuid() as payload") \
            .repartition(32).write.parquet(src)
        import glob, os
        total = sum(os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet"))
        n = compact_layout(spark, src, dst, target_bytes=total // 4 + 1)
        assert 2 <= n <= 5
        assert spark.read.parquet(dst).count() == 50_000
