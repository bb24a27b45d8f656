"""MVT/PBF ingestion tests: wire-format round trip, the checked-in fixture tile
(tests/fixtures/mvt/16/x/y.pbf, regenerable via scripts/make_mvt_fixture.py),
and the flagship spatial join running end-to-end on MVT-ingested buildings."""

from __future__ import annotations

import os

import numpy as np
import pytest

from osm_data_3d_tiles_spark.functions import mercator as m
from osm_data_3d_tiles_spark.operators.spatial_join import spatial_join
from osm_data_3d_tiles_spark.sources.mvt import (
    decode_mvt,
    encode_mvt,
    mvt_tiles_to_buildings,
    read_pbf_dir,
)

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "mvt")


class TestWireFormat:
    def test_round_trip(self):
        layers = [
            {
                "name": "buildings",
                "extent": 4096,
                "features": [
                    {
                        "id": 7,
                        "type": 3,
                        "props": {"osm_id": 42, "height": 9.5, "name": "Hôtel", "windows": True},
                        "paths": [[(10, 10), (100, 10), (100, 80), (10, 80), (10, 10)]],
                    }
                ],
            }
        ]
        out = decode_mvt(encode_mvt(layers))
        assert len(out) == 1 and out[0]["name"] == "buildings"
        feat = out[0]["features"][0]
        assert feat["id"] == 7 and feat["type"] == 3
        assert feat["props"] == {"osm_id": 42, "height": 9.5, "name": "Hôtel", "windows": True}
        assert feat["paths"] == [[(10, 10), (100, 10), (100, 80), (10, 80), (10, 10)]]

    def test_negative_int64_value_decodes_signed(self):
        """MVT int_value (field 4): negatives arrive as 10-byte two's-complement
        varints; decode must sign-extend, not return a huge positive."""
        from osm_data_3d_tiles_spark.sources.mvt import _decode_value, _field

        raw = _field(4, 0, (-5) & ((1 << 64) - 1))
        assert _decode_value(raw) == -5
        assert _decode_value(_field(4, 0, 42)) == 42

    def test_zigzag_negative_deltas(self):
        layers = [{
            "name": "l", "extent": 4096,
            "features": [{"id": 1, "type": 3,
                          "paths": [[(500, 500), (100, 600), (300, 100), (500, 500)]]}],
        }]
        assert decode_mvt(encode_mvt(layers))[0]["features"][0]["paths"] == [
            [(500, 500), (100, 600), (300, 100), (500, 500)]
        ]


@pytest.fixture(scope="module")
def mvt_buildings(spark):
    tiles = read_pbf_dir(spark, FIXTURE_DIR)
    return mvt_tiles_to_buildings(tiles, layer="buildings").toPandas()


class TestFixtureTile:
    def test_checked_in_tile_decodes(self, mvt_buildings):
        df = mvt_buildings
        assert sorted(df["osm_id"]) == [900001, 900002]  # roads feature filtered
        by_id = df.set_index("osm_id")
        assert by_id.loc[900001, "ring_types"] == ["outer"]
        assert list(by_id.loc[900002, "ring_types"]) == ["outer", "inner"]
        assert by_id.loc[900001, "height"] == 12.5
        assert by_id.loc[900002, "levels"] == 3.0
        assert by_id.loc[900001, "roof_type"] == "flat"

    def test_osm_id_coercion_degrades_per_feature(self):
        from osm_data_3d_tiles_spark.sources.mvt import _coerce_osm_id

        assert _coerce_osm_id(123, 7) == 123
        assert _coerce_osm_id("123", 7) == 123
        assert _coerce_osm_id("way/456", 7) == 456  # real-world prefixed id
        assert _coerce_osm_id("relation/9", None) == 9
        assert _coerce_osm_id("123.0", 7) == 123      # JSON-stringified float
        assert _coerce_osm_id("1.5e7", 7) == 15000000
        assert _coerce_osm_id("1.5", 7) == 7          # fractional → feature id
        assert _coerce_osm_id("no-digits", 7) == 7  # fall back to feature id
        assert _coerce_osm_id(None, 7) == 7
        assert _coerce_osm_id("no-digits", None) is None

    def test_geometry_lands_in_tile_extent(self, mvt_buildings):
        z, tx, ty = 16, 33650, 23378
        span = m.tile_span(z)
        x0, x1 = -m.HALF_SIZE + tx * span, -m.HALF_SIZE + (tx + 1) * span
        y0, y1 = m.HALF_SIZE - (ty + 1) * span, m.HALF_SIZE - ty * span
        for rings in mvt_buildings["geometry"]:
            for ring in rings:
                arr = np.asarray([[p[0], p[1]] for p in ring])
                assert (arr[:, 0] >= x0 - 1).all() and (arr[:, 0] <= x1 + 1).all()
                assert (arr[:, 1] >= y0 - 1).all() and (arr[:, 1] <= y1 + 1).all()
        # quantization error bounded by span/4096
        r1 = next(
            np.asarray([[p[0], p[1]] for p in rings[0]])
            for oid, rings in zip(mvt_buildings["osm_id"], mvt_buildings["geometry"])
            if oid == 900001
        )
        w = r1[:, 0].max() - r1[:, 0].min()
        h = r1[:, 1].max() - r1[:, 1].min()
        assert abs(w - 60) < 2 * span / 4096 and abs(h - 40) < 2 * span / 4096

    def test_flagship_join_on_mvt_buildings(self, spark):
        """End-to-end: .pbf tile → buildings → broadcast cell-prefiltered PIP
        join, with points planted inside building 1, inside building 2's hole
        (no match), and outside everything."""
        tiles = read_pbf_dir(spark, FIXTURE_DIR)
        blds = mvt_tiles_to_buildings(tiles, layer="buildings")
        pdf = blds.toPandas().set_index("osm_id")
        ring1 = np.asarray([[p[0], p[1]] for p in pdf.loc[900001, "geometry"][0]])
        c1 = ring1[:-1].mean(axis=0)
        ring2 = np.asarray([[p[0], p[1]] for p in pdf.loc[900002, "geometry"][0]])
        c2 = ring2[:-1].mean(axis=0)  # center of the hole
        pts = spark.createDataFrame(
            [
                ("in-1", float(c1[0]), float(c1[1])),
                ("in-hole-2", float(c2[0]), float(c2[1])),
                ("outside", float(c1[0]) + 1e6, float(c1[1])),
            ],
            ["url", "x", "y"],
        )
        got = spatial_join(pts, blds).toPandas()
        assert set(zip(got["url"], got["osm_id"])) == {("in-1", 900001)}
