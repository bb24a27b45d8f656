"""Structured Streaming tests: each streaming shape in streaming/events.py,
run on a real file-source stream, matches its batch form (the one the
contract oracle checks)."""

from __future__ import annotations

import os

import pandas as pd
import pytest


@pytest.mark.usefixtures("spark")
class TestStreamingOwnership:
    def test_dedup_within_watermark_streaming(self, spark, tmp_path):
        """A redelivered event inside the watermark horizon dedups; the batch
        path keeps the earliest row per key (the oracle-checked equivalence)."""
        from osm_data_3d_tiles_spark.streaming.events import dedup_within_watermark

        src_dir = str(tmp_path / "dd_events")
        os.makedirs(src_dir)
        import pyarrow as pa
        import pyarrow.parquet as pq

        ts = pd.Timestamp("2024-01-01 00:01:00")
        df = pd.DataFrame({
            "event_id": [1, 2, 1, 3],  # event 1 redelivered in-batch
            "ts": [ts, ts + pd.Timedelta(minutes=1), ts + pd.Timedelta(minutes=2),
                   ts + pd.Timedelta(minutes=3)],
            "user_id": [10, 20, 10, 30],
        })
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(src_dir, "b1.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

        stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src_dir)
        out = dedup_within_watermark(stream)
        q = (
            out.writeStream.format("memory").queryName("dd_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            # redeliver event 2 in a later micro-batch, still inside the horizon
            pq.write_table(
                pa.Table.from_pandas(pd.DataFrame({
                    "event_id": [2, 4],
                    "ts": [ts + pd.Timedelta(minutes=4), ts + pd.Timedelta(minutes=5)],
                    "user_id": [20, 40],
                }), preserve_index=False),
                os.path.join(src_dir, "b2.parquet"),
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )
            q.processAllAvailable()
            rows = spark.sql("select event_id from dd_test").collect()
            got = sorted(r.event_id for r in rows)
            assert got == [1, 2, 3, 4]  # each id exactly once despite redelivery
        finally:
            q.stop()

        # batch path: earliest row per key
        batch = dedup_within_watermark(
            spark.createDataFrame(df)
        ).toPandas().sort_values("event_id")
        assert list(batch["event_id"]) == [1, 2, 3]
        assert batch.set_index("event_id").loc[1, "ts"] == ts  # earliest kept


class TestEnrichedCounts:
    def test_stream_static_join_matches_batch(self, spark, tmp_path):
        """The stream-static enrichment must produce the same rollup as the
        identical batch query, across multiple micro-batches."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from osm_data_3d_tiles_spark.streaming.events import enriched_tumbling_counts

        src_dir = str(tmp_path / "events")
        os.makedirs(src_dir)

        def write_events(fname, rows):
            pq.write_table(
                pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False),
                os.path.join(src_dir, fname),
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )

        ts = pd.Timestamp("2024-01-01 00:01:00")
        b1 = {
            "ts": [ts, ts + pd.Timedelta(minutes=1), ts + pd.Timedelta(minutes=7)],
            "user_id": [0, 1, 2],
            "value": [1.0, 2.0, 3.0],
        }
        b2 = {
            "ts": [ts + pd.Timedelta(minutes=8), ts + pd.Timedelta(hours=2)],
            "user_id": [0, 3],
            "value": [5.0, 0.0],
        }
        write_events("b1.parquet", b1)

        dim = spark.createDataFrame(
            [(u, u % 3) for u in range(4)], ["c_custkey", "c_nationkey"]
        )
        stream = spark.readStream.schema(
            "ts timestamp, user_id long, value double"
        ).parquet(src_dir)
        out = enriched_tumbling_counts(stream, dim)
        q = (
            out.writeStream.format("memory")
            .queryName("enriched_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_enr"))
            .start()
        )
        try:
            q.processAllAvailable()
            write_events("b2.parquet", b2)
            q.processAllAvailable()
            got = (
                spark.sql("select * from enriched_test")
                .toPandas()
                .sort_values(["window_start", "dim_attr"])
                .reset_index(drop=True)
            )
        finally:
            q.stop()

        both = {k: b1[k] + b2[k] for k in b1}
        batch = spark.createDataFrame(pd.DataFrame(both))
        want_all = (
            enriched_tumbling_counts(batch, dim)
            .toPandas()
            .sort_values(["window_start", "dim_attr"])
            .reset_index(drop=True)
        )
        # append mode emits only watermark-closed windows; every emitted row
        # must match the batch rollup exactly, and the closed horizon (both
        # first-hour windows) must have been emitted
        want = want_all[want_all.window_start < ts + pd.Timedelta(hours=1)].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        assert len(got) >= 2


class TestStreamStreamAttribution:
    def test_streaming_matches_batch(self, spark, tmp_path):
        """Stream-stream inner join across micro-batches: a purchase arriving
        in a LATER micro-batch must still match a click buffered in join
        state, and the final streamed pair set equals the batch join."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from osm_data_3d_tiles_spark.streaming.events import click_purchase_attribution

        base = pd.Timestamp("2024-01-01 00:00:00")
        clicks = pd.DataFrame({
            "user_id": [1, 1, 2],
            "event_id": [10, 11, 12],
            "ts": [base, base + pd.Timedelta(minutes=40), base],
        })
        purchases = pd.DataFrame({
            "user_id": [1, 2],
            "event_id": [20, 21],
            # u1 purchase at +50: matches click 11 (10 min) but NOT click 10
            # (50 min > 30); u2 purchase at +10 matches click 12
            "ts": [base + pd.Timedelta(minutes=50), base + pd.Timedelta(minutes=10)],
        })
        cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
        os.makedirs(cdir); os.makedirs(pdir)

        def put(df, d, name):
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(d, name),
                           coerce_timestamps="us", allow_truncated_timestamps=True)

        put(clicks, cdir, "b1.parquet")          # clicks arrive first...
        schema = "user_id long, event_id long, ts timestamp"
        cs = spark.readStream.schema(schema).parquet(cdir)
        ps = spark.readStream.schema(schema).parquet(pdir)
        out = click_purchase_attribution(cs, ps)
        q = (
            out.writeStream.format("memory").queryName("attr_parity")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
            .start()
        )
        try:
            q.processAllAvailable()
            put(purchases, pdir, "b2.parquet")   # ...purchases a batch later
            q.processAllAvailable()
            got = {
                (r.user_id, r.click_id, r.purchase_id, r.gap_s)
                for r in spark.sql("select * from attr_parity").collect()
            }
        finally:
            q.stop()

        batch = click_purchase_attribution(
            spark.createDataFrame(clicks), spark.createDataFrame(purchases),
        )
        want = {
            (r.user_id, r.click_id, r.purchase_id, r.gap_s) for r in batch.collect()
        }
        assert got == want == {(1, 11, 20, 600), (2, 12, 21, 600)}


class TestStreamingTileCounts:
    def test_stream_matches_batch(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.streaming.events import streaming_tile_counts

        ext = m.tile_extent(12, 2103, 1461)
        base = pd.Timestamp("2024-01-01 00:00:00")
        rows = pd.DataFrame({
            "ts": [base + pd.Timedelta(seconds=30 * i) for i in range(20)],
            "x": [ext[0] + 13.7 * (i + 1) for i in range(20)],
            "y": [ext[1] + 21.3 * (i + 1) for i in range(20)],
        })
        src = str(tmp_path / "pts")
        os.makedirs(src)
        pq.write_table(pa.Table.from_pandas(rows, preserve_index=False),
                       f"{src}/b1.parquet",
                       coerce_timestamps="us", allow_truncated_timestamps=True)
        # close all windows
        late = pd.DataFrame({"ts": [base + pd.Timedelta(hours=2)],
                             "x": [ext[0]], "y": [ext[1]]})

        stream = spark.readStream.schema("ts timestamp, x double, y double").parquet(src)
        q = (
            streaming_tile_counts(stream)
            .writeStream.format("memory").queryName("tile_counts")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_tiles"))
            .start()
        )
        try:
            q.processAllAvailable()
            pq.write_table(pa.Table.from_pandas(late, preserve_index=False),
                           f"{src}/b2.parquet",
                           coerce_timestamps="us", allow_truncated_timestamps=True)
            q.processAllAvailable()
            got = {
                (r.window_start, r.tile_x, r.tile_y): r.n_docs
                for r in spark.sql("select * from tile_counts").collect()
            }
        finally:
            q.stop()

        batch = streaming_tile_counts(spark.createDataFrame(rows))
        want = {
            (r.window_start, r.tile_x, r.tile_y): r.n_docs for r in batch.collect()
        }
        assert want  # non-trivial
        assert all(got.get(k) == v for k, v in want.items())
