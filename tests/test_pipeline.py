"""End-to-end pipeline tests on the deterministic fixtures (sf=0.001), with
numpy brute-force oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.functions import geometry as g
from osm_data_3d_tiles_spark.functions import mercator as m
from osm_data_3d_tiles_spark.functions import text as tx
from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
from osm_data_3d_tiles_spark.operators.cells import building_cells, covered_cells_for_building
from osm_data_3d_tiles_spark.operators.knn import building_centroids, knn_bruteforce, knn_kring
from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
from osm_data_3d_tiles_spark.operators.spatial_join import spatial_join
from osm_data_3d_tiles_spark.operators.zonal import zonal_stats
from osm_data_3d_tiles_spark.plans.pipeline import (
    flagship,
    flagship_stages,
    geotagged_points,
    run_with_checkpoints,
)
from osm_data_3d_tiles_spark.sources import fixtures as fx

SF = 0.001


@pytest.fixture(scope="module")
def pages_pdf():
    return pd.read_parquet(fx.ensure_fixture("pages", SF))


@pytest.fixture(scope="module")
def buildings_pdf():
    return pd.read_parquet(fx.ensure_fixture("buildings", SF))


@pytest.fixture(scope="module")
def pages(spark):
    return spark.read.parquet(fx.ensure_fixture("pages", SF))


@pytest.fixture(scope="module")
def buildings(spark):
    return spark.read.parquet(fx.ensure_fixture("buildings", SF))


def oracle_join(pages_pdf, buildings_pdf) -> set[tuple[str, int]]:
    """Brute-force PIP join oracle in numpy (no cell prefilter)."""
    geo = tx.extract_geotag(pages_pdf["html"])
    mask = geo["lat"].notna().to_numpy()
    x, y = m.lonlat_to_3857(geo["lon"].to_numpy(), geo["lat"].to_numpy())
    pts = np.column_stack([x, y])[mask]
    urls = pages_pdf["url"].to_numpy()[mask]

    out = set()
    for _, b in buildings_pdf.iterrows():
        if b["layer"] != "buildings":
            continue
        rings = [
            np.asarray([[float(p[0]), float(p[1])] for p in ring]) for ring in b["geometry"]
        ]
        inside = g.points_in_polygon(pts, rings)
        for u in urls[inside]:
            out.add((u, int(b["osm_id"])))
    return out


class TestExtract:
    def test_text_invariant(self, pages_pdf):
        """Byte-identical extracted text per page (input-hint invariant)."""
        got = tx.extract_text(pages_pdf["html"])
        assert len(got) == len(pages_pdf)
        assert (got.to_numpy() == pages_pdf["text"].to_numpy()).all()

    def test_geotag_count(self, pages, pages_pdf):
        n_geo = geotagged_points(pages).count()
        expected = tx.extract_geotag(pages_pdf["html"])["lat"].notna().sum()
        assert n_geo == expected

    def test_join_is_one_arrow_pass(self, pages, buildings):
        """join_rows reads the pages once into Python: no projection UDF and
        no JVM join on the page side, one MapInArrow (projection, cell probe
        and refine), and one round-robin fan-out."""
        out = flagship(pages, buildings)
        plan = out["join_rows"]._jdf.queryExecution().executedPlan().toString()
        out["cells_multi"].unpersist()
        assert plan.count("ArrowEvalPython") == 0
        assert plan.count("BroadcastHashJoin") == 0
        assert plan.count("MapInArrow") == 1
        assert plan.count("RoundRobinPartitioning") == 1


def _meta(content: str, sep: str = " ") -> str:
    return f'<meta{sep}name="geo.position"{sep}content="{content}">'


# url → html bytes, for the geotag contract (functions/text.py)
GEOTAG_CASES = {
    "plain": f"<html><head>{_meta('45.764043;4.835659')}</head><p>x</p></html>".encode(),
    "no_tag": b"<html><head><title>t</title></head><p>no tag</p></html>",
    "other_meta": b'<meta name="description" content="45.1;4.8">',
    "malformed_letter": _meta("45.7x;4.8").encode(),
    "malformed_trailing_dot": _meta("45.;4.8").encode(),
    "malformed_plus": _meta("+45.7;4.8").encode(),
    "malformed_comma": _meta("45.7,4.8").encode(),
    "malformed_exponent": _meta("4.5e1;4.8").encode(),
    "two_tags": (_meta("45.1;4.1") + _meta("46.2;5.2")).encode(),
    "bad_then_good": (_meta("45.x;4.1") + _meta("46.2;5.2")).encode(),
    "tab_newline": _meta("45.5;4.5", "\t\n \r\x0b\x0c").encode(),
    "nbsp": _meta("45.5;4.5", "\u00a0").encode(),
    "em_space": _meta("45.5;4.5", "\u2003").encode(),
    "file_separator": _meta("45.5;4.5", "\x1c").encode(),
    "arabic_digits": _meta("\u0664\u0665.\u0665;\u0664.\u0665").encode(),
    "fullwidth_digits": _meta("\uff14\uff15.5;4.5").encode(),
    "negative_zero": _meta("-0;-0.0").encode(),
    "negative": _meta("-33.8688;-151.2093").encode(),
    "long_mantissa": _meta(
        "45.12345678901234567890123456789;4.1000000000000000055511151231257827"
    ).encode(),
    "long_integer_part": _meta("000000000000000000000045.5;4.5").encode(),
    "invalid_utf8": b"\xff\xfe<p>\xc3</p>" + _meta("45.25;4.75").encode() + b"\xed\xa0\x80",
}


class TestGeotagContract:
    """The JVM parse + numpy projection of `geotagged_points` against the
    Python reference `tx.extract_geotag` + `lonlat_to_3857`, bit for bit, on
    the cases where Python `re` and Java regex, or pandas and Spark number
    parsing, can disagree. The contract: ASCII `\\s`/`\\d`, first tag wins,
    correctly rounded numbers (-0 stays -0.0), invalid UTF-8 decodes to U+FFFD."""

    @pytest.fixture(scope="class")
    def both(self, spark):
        pdf = pd.DataFrame({"url": list(GEOTAG_CASES), "html": list(GEOTAG_CASES.values())})
        got = (
            geotagged_points(spark.createDataFrame(pdf, "url string, html binary"))
            .toPandas().set_index("url")
        )
        geo = tx.extract_geotag(pdf["html"])
        x, y = m.lonlat_to_3857(geo["lon"].to_numpy(), geo["lat"].to_numpy())
        ref = pd.DataFrame({"lat": geo["lat"], "lon": geo["lon"], "x": x, "y": y})
        ref.index = pdf["url"]
        return got, ref[ref["lat"].notna()]

    def test_bit_identical_to_python_reference(self, both):
        got, ref = both
        assert sorted(got.index) == sorted(ref.index)
        for col in ("lat", "lon", "x", "y"):
            a = got.loc[ref.index, col].to_numpy(dtype=np.float64)
            b = ref[col].to_numpy(dtype=np.float64)
            np.testing.assert_array_equal(a.view(np.int64), b.view(np.int64), err_msg=col)

    def test_contract(self, both):
        got, _ = both
        assert sorted(got.index) == sorted([
            "plain", "two_tags", "bad_then_good", "tab_newline", "negative_zero",
            "negative", "long_mantissa", "long_integer_part", "invalid_utf8",
        ])
        assert tuple(got.loc["two_tags", ["lat", "lon"]]) == (45.1, 4.1)
        assert tuple(got.loc["bad_then_good", ["lat", "lon"]]) == (46.2, 5.2)
        assert tuple(got.loc["invalid_utf8", ["lat", "lon"]]) == (45.25, 4.75)
        assert got.loc["long_mantissa", "lat"] == float("45.12345678901234567890123456789")
        assert np.signbit(got.loc["negative_zero", ["lat", "lon", "x"]].to_numpy(float)).all()

    def test_text_extract_stays_strict(self):
        with pytest.raises(UnicodeDecodeError):
            tx.extract_text(pd.Series([GEOTAG_CASES["invalid_utf8"]]))


class TestSpatialJoin:
    def test_join_rows_match_oracle(self, spark, pages, buildings, pages_pdf, buildings_pdf):
        got = flagship(pages, buildings)["join_rows"].toPandas()
        got_set = set(zip(got["url"], got["osm_id"].astype(int)))
        assert got_set == oracle_join(pages_pdf, buildings_pdf)

    def test_xy_probe_equals_flagship(self, spark, pages, buildings):
        """`spatial_join` over projected x/y columns (the layer table's join)
        gives the flagship's lat/lon `geotag_join` rows."""
        blds = buildings.filter(F.col("layer") == "buildings")
        out = flagship(pages, buildings)
        a = out["join_rows"].toPandas()
        out["cells_multi"].unpersist()
        joined = spatial_join(geotagged_points(pages), blds)
        # the projection UDF runs once: no filter evaluates it a second time
        for df in (joined, geotagged_points(pages).filter(F.col("x") > 0)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("ArrowEvalPython") == 1
        b = joined.toPandas()
        key = lambda df: sorted(zip(df["url"], df["osm_id"]))
        assert key(a) == key(b)
        assert len(a) > 0

    def test_join_partitioning_invariance(self, spark, pages, buildings):
        """Same result at different parallelism and Arrow batch size — required
        for the N vs 4N scaling criterion to be meaningful. Batches of 7 rows end
        mid-building in the refine."""
        def join_rows(p, b):
            out = flagship(p, b)
            rows = out["join_rows"].toPandas()
            out["cells_multi"].unpersist()
            return rows

        a = join_rows(pages.repartition(2), buildings)
        b = join_rows(pages.repartition(13), buildings.repartition(7))
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "7")
        try:
            c = join_rows(pages, buildings)
        finally:
            spark.conf.set(conf, prev)
        key = lambda df: sorted(zip(df["url"], df["osm_id"]))
        assert key(a) == key(b) == key(c)
        assert len(a) > 0


def _lonlat(x: float, y: float) -> str:
    """A geotag "lat;lon" for the EPSG:3857 point (x, y), in plain decimals."""
    lon, lat = m.merc_to_lonlat(np.array([x]), np.array([y]))
    return f"{lat[0]:.15f};{lon[0]:.15f}"


def _square(x0, y0, x1, y1) -> list[list[float]]:
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


class TestGeotagJoinEdges:
    """The flagship's fused join (`geotag_join`) at the edges of its cell
    probe, against the brute-force `oracle_join` and `spatial_join` over the
    projected x/y columns of `geotagged_points`. Buildings sit at the
    EPSG:3857 origin, where x = 0 (lon 0) is exactly a z20 cell edge."""

    # url -> geotag; None: a page without one
    TAGS = {
        # lat 0, lon 0 projects to x = 0, y = -7e-10: the z20 cell corner
        "corner": "0;0",
        "x_edge": _lonlat(0.0, -20.0),
        "x_edge_in_hole": _lonlat(0.0, 25.0),
        "b1_far_corner": _lonlat(-45.0, 45.0),
        "b1_other_cell": _lonlat(45.0, -45.0),
        "b2": _lonlat(105.0, 10.0),
        "b3": _lonlat(118.0, 10.0),
        "between_b2_b3": _lonlat(111.0, 10.0),
        "outside": _lonlat(500.0, 500.0),
        "north_pole": "90;0",
        "south_pole": "-90;0",
        "past_north_pole": "90.5;0",
        "past_south_pole": "-91;0",
        "no_tag": None,
        # 20 points in the one z20 cell (2^19, 2^19): batches of 7 end in it
        **{f"cell_{i:02d}": _lonlat(1.0 + 1.8 * i, -1.0 - 1.7 * i) for i in range(20)},
    }

    @pytest.fixture(scope="class")
    def frames(self, spark):
        html = {url: (f"<html>{_meta(tag)}</html>" if tag else "<html></html>").encode()
                for url, tag in self.TAGS.items()}
        pages_pdf = pd.DataFrame({"url": list(html), "html": list(html.values())})
        rows = [
            # several z20 cells (4 x 4), with a hole
            (1, [_square(-50.0, -50.0, 50.0, 50.0), _square(-10.0, 20.0, 10.0, 30.0)],
             ["outer", "inner"]),
            # two buildings that share the z20 cell (2^19 + 2, 2^19 - 1)
            (2, [_square(100.0, 5.0, 110.0, 15.0)], ["outer"]),
            (3, [_square(112.0, 5.0, 125.0, 15.0)], ["outer"]),
        ]
        buildings_pdf = pd.DataFrame({
            "osm_id": [r[0] for r in rows], "layer": "buildings",
            "geometry": [r[1] for r in rows], "ring_types": [r[2] for r in rows],
        })
        pages = spark.createDataFrame(pages_pdf, "url string, html binary")
        buildings = spark.createDataFrame(
            buildings_pdf,
            "osm_id long, layer string, geometry array<array<array<double>>>, "
            "ring_types array<string>",
        )
        return pages, buildings, oracle_join(pages_pdf, buildings_pdf)

    @staticmethod
    def _join(pages, buildings) -> set[tuple[str, int]]:
        out = flagship(pages, buildings)
        rows = out["join_rows"].collect()
        out["cells_multi"].unpersist()
        return {(r["url"], r["osm_id"]) for r in rows}

    def test_equals_oracle_and_xy_probe(self, frames):
        pages, buildings, expected = frames
        assert self._join(pages, buildings) == expected
        xy = spatial_join(geotagged_points(pages), buildings).collect()
        assert {(r["url"], r["osm_id"]) for r in xy} == expected
        assert {("corner", 1), ("x_edge", 1), ("b1_far_corner", 1), ("b1_other_cell", 1),
                ("b2", 2), ("b3", 3)} <= expected
        assert {url for url, _ in expected} == {
            "corner", "x_edge", "b1_far_corner", "b1_other_cell", "b2", "b3",
            *(f"cell_{i:02d}" for i in range(20))}

    def test_batches_end_mid_cell(self, spark, frames):
        pages, buildings, expected = frames
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "7")
        try:
            got = self._join(pages.repartition(1), buildings)
        finally:
            spark.conf.set(conf, prev)
        assert got == expected

    def test_poles_get_no_cell(self):
        """lat 90 projects far off the grid, lat -90 to y = -inf, |lat| > 90
        to NaN: none of them gets a cell id, so none gets a candidate."""
        from osm_data_3d_tiles_spark.operators.spatial_join import _grid_cells

        lat = np.array([90.0, -90.0, 90.5, -91.0])
        with np.errstate(divide="ignore", invalid="ignore"):
            x, y = m.lonlat_to_3857(np.zeros(4), lat)
        positions, cells = _grid_cells(*m.tile_xy(x, y, 20), 20)
        assert len(positions) == len(cells) == 0

    def test_empty_batch(self, frames):
        """An empty Arrow batch yields an empty batch of the output columns."""
        import pyarrow as pa

        from osm_data_3d_tiles_spark.operators.spatial_join import _probe_batches, _probe_index

        pages, buildings, _ = frames
        index = _probe_index(building_cells(buildings, 20), buildings, 20)
        empty = pa.RecordBatch.from_pydict(
            {"url": pa.array([], pa.string()), "lat": pa.array([], pa.float64()),
             "lon": pa.array([], pa.float64())})
        bc = type("Broadcast", (), {"value": index})
        out = list(_probe_batches([empty], bc, ["url"], ("lat", "lon"), lonlat=True))
        assert [b.num_rows for b in out] == [0]
        assert out[0].schema.names == ["url", "osm_id"]


def _table(df, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _plans(df) -> tuple[str, str]:
    """(final plan, whole plan) of an executed AQE query, as strings."""
    plan = df._jdf.queryExecution().executedPlan()
    return plan.executedPlan().toString(), plan.toString()


class TestOneFlagshipDefinition:
    """`flagship()` and `run_with_checkpoints()` run the one stage table."""

    @pytest.fixture(scope="class")
    def runs(self, spark, pages, buildings, tmp_path_factory):
        wd = str(tmp_path_factory.mktemp("flagship") / "wd")
        return {
            "in_memory": flagship(pages, buildings),
            "fresh": run_with_checkpoints(spark, pages, buildings, wd),
            "resumed": run_with_checkpoints(spark, pages, buildings, wd),
        }

    def test_runners_agree(self, runs):
        for stage, cols in (("join_rows", ("url", "osm_id")),
                            ("owners", ("osm_id", "tile_key")),
                            ("tile_doc_counts", ("tile_key", "docs"))):
            tables = {name: _table(out[stage], cols) for name, out in runs.items()}
            assert tables["in_memory"] == tables["fresh"] == tables["resumed"], stage
            assert tables["in_memory"], stage

    def test_every_stage_returned(self, pages, buildings, runs):
        names = [stage.name for stage in flagship_stages(pages, buildings)]
        assert names == ["points", "cells_multi", "owners", "join_rows", "tile_doc_counts"]
        for out in runs.values():
            assert list(out) == names

    def test_counts_join_is_broadcast(self, pages, buildings, runs):
        counts = runs["in_memory"]["tile_doc_counts"]
        counts.collect()
        final, whole = _plans(counts)
        # the counts join; the z20 prefilter is a cell probe inside the join's
        # MapInArrow, not a join
        assert final.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in whole
        # the checkpointed counts stage, built as checkpoint() builds it: over
        # the join_rows and owners snapshots
        counts = flagship_stages(pages, buildings)[-1].build(runs["resumed"])
        counts.collect()
        final, whole = _plans(counts)
        assert final.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in whole

    def test_unpersisted_outputs_leave_no_cache(self, spark, pages, buildings):
        spark.catalog.clearCache()
        out = flagship(pages, buildings)
        for df in out.values():
            df.collect()
        for df in out.values():
            df.unpersist()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestOwnership:
    def test_exactly_one_owner(self, buildings):
        blds = buildings.filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).toPandas()
        assert owners["osm_id"].is_unique
        assert len(owners) == blds.count()

    def test_owner_is_min_order_candidate(self, buildings, buildings_pdf):
        blds = buildings.filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).toPandas().set_index("osm_id")
        for _, b in buildings_pdf[buildings_pdf["layer"] == "buildings"].head(20).iterrows():
            cand = covered_cells_for_building(b["geometry"], b["ring_types"])
            best = min(cand, key=lambda c: (c[0] // 16, c[1] // 16, c[0], c[1]))
            row = owners.loc[int(b["osm_id"])]
            assert (row["tile_x"], row["tile_y"]) == best

    def test_straddlers_exist(self, buildings):
        """Fixture guarantees multi-tile buildings — the dedup actually bites."""
        blds = buildings.filter(F.col("layer") == "buildings")
        cells = building_cells(blds).groupBy("osm_id").count().toPandas()
        assert (cells["count"] > 1).any()


class TestBatchTables:
    @pytest.fixture(scope="class")
    def batch(self, pages, buildings):
        blds = buildings.filter(F.col("layer") == "buildings")
        assignment = flagship(pages, buildings)["owners"].select("osm_id", "tile_key")
        return batch_tables(blds.join(assignment, "osm_id")).toPandas()

    def test_shapes_and_order(self, buildings, batch):
        assert (batch["batch_length"] > 0).all()
        for _, row in batch.iterrows():
            assert len(row["osm_id"]) == row["batch_length"]
            assert list(row["osm_id"]) == sorted(row["osm_id"])
            for bc in row["box_center"]:
                assert len(bc) == 3 and bc[2] == 10.0
                assert 4.0 < bc[0] < 5.5 and 45.0 < bc[1] < 46.5
        total = batch["batch_length"].sum()
        n_blds = buildings.filter(F.col("layer") == "buildings").count()
        assert total == n_blds  # each building in exactly its owner tile

    def test_osm_url(self, batch):
        urls = [u for row in batch["osm_url"] for u in row]
        assert all(u.startswith("https://www.openstreetmap.org/") for u in urls)


class TestZonal:
    def test_zonal_matches_oracle(self, spark, buildings, buildings_pdf):
        raster = spark.read.parquet(fx.ensure_fixture("raster"))
        blds = buildings.filter(F.col("layer") == "buildings")
        got = zonal_stats(blds, raster).toPandas().set_index("osm_id")
        for _, b in buildings_pdf[buildings_pdf["layer"] == "buildings"].head(15).iterrows():
            cells = covered_cells_for_building(b["geometry"], b["ring_types"])
            vals = [float((cx * 31 + cy * 17) % 1000) for cx, cy in cells]
            row = got.loc[int(b["osm_id"])]
            assert row["cell_count"] == len(vals)
            assert row["value_sum"] == pytest.approx(sum(vals))


class TestKNN:
    def test_kring_equals_bruteforce(self, spark, buildings):
        queries = spark.read.parquet(fx.ensure_fixture("knn_queries")).limit(25)
        blds = buildings.filter(F.col("layer") == "buildings")
        cents = building_centroids(blds).persist()
        brute = knn_bruteforce(queries, cents).toPandas()
        kring = knn_kring(queries, cents).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(kring)
        assert len(brute) > 0

    def test_kring_index_is_released_by_unpersist_all(self, spark, buildings):
        # the persisted centroid cell index is registered like every other
        # operator cache, so a long-lived session does not keep one per call
        from osm_data_3d_tiles_spark.operators.dedup import unpersist_all

        spark.catalog.clearCache()
        queries = spark.read.parquet(fx.ensure_fixture("knn_queries"))
        cents = building_centroids(buildings.filter(F.col("layer") == "buildings"))
        assert knn_kring(queries, cents).count() > 0
        unpersist_all()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_completion_bound_is_strict(self, spark):
        # A candidate whose k-th distance is EXACTLY r·span must NOT finalize:
        # an unexplored ring-(r+1) cell can hold an fp-tied centroid with a
        # smaller osm_id that the tie-break prefers.
        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.operators.knn import _complete_pred

        span = m.tile_span(16)
        r = 2
        rows = [
            (1, 1, 1, (r * span) ** 2),       # exactly at the bound → incomplete
            (2, 1, 1, (r * span * 0.999) ** 2),  # strictly inside → complete
        ]
        df = spark.createDataFrame(rows, ["query_id", "rank", "k", "dist2"])
        done = df.filter(_complete_pred(r, span)).toPandas()
        assert sorted(done["query_id"]) == [2]

    def test_exact_on_cell_boundary_centroids(self, spark):
        # End-to-end boundary regression: query on an exact cell corner with
        # centroids placed exactly on ring-boundary distances (the at-bound
        # geometry the strict inequality protects) still matches brute force.
        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.operators.knn import knn_bruteforce, knn_kring

        span = m.tile_span(16)
        cents = spark.createDataFrame(
            [
                (100, 2 * span, 0.0),           # exactly r·span right, big id
                (1, -2 * span, 0.0),            # exactly on the left boundary
                (50, 0.0, 8 * span),            # farther shell
                (51, 9 * span, 9 * span),
            ],
            ["osm_id", "cx", "cy"],
        )
        queries = spark.createDataFrame(
            [(0, 0.0, 0.0, 2), (1, 0.0, 0.0, 4)], ["query_id", "x", "y", "k"]
        )
        brute = knn_bruteforce(queries, cents).toPandas()
        kring = knn_kring(queries, cents, initial_ring=2, max_ring=16).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(kring)


class TestKNNHex:
    def test_hex_kring_equals_bruteforce(self, spark, buildings):
        from osm_data_3d_tiles_spark.operators.knn import knn_hex_kring

        queries = spark.read.parquet(fx.ensure_fixture("knn_queries")).limit(25)
        blds = buildings.filter(F.col("layer") == "buildings")
        cents = building_centroids(blds).persist()
        brute = knn_bruteforce(queries, cents).toPandas()
        hexed = knn_hex_kring(queries, cents).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(hexed)
        assert len(brute) > 0

    def test_hex_kring_small_cells_forces_expansion(self, spark, buildings):
        # tiny hexes make the first disk nearly always insufficient -> the
        # escalation loop and the brute-force fallback both get exercised,
        # and the result must STILL be exact.
        from osm_data_3d_tiles_spark.operators.knn import knn_hex_kring

        queries = spark.read.parquet(fx.ensure_fixture("knn_queries")).limit(8)
        blds = buildings.filter(F.col("layer") == "buildings")
        cents = building_centroids(blds).persist()
        brute = knn_bruteforce(queries, cents).toPandas()
        hexed = knn_hex_kring(
            queries, cents, size=m.tile_span(16) / 8, initial_ring=1, max_ring=4
        ).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(hexed)
