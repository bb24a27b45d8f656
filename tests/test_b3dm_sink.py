"""B3DM sink tests (SURVEY.md §5.6): glb/b3dm byte layout, seed
materialization over fixture buildings, and the quantized mesh path."""

from __future__ import annotations

import json
import os
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.functions.params import with_building_params
from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
from osm_data_3d_tiles_spark.operators.build3d import build_tiles_3d
from osm_data_3d_tiles_spark.operators.cells import building_cells
from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
from osm_data_3d_tiles_spark.plans.tileset import write_tileset
from osm_data_3d_tiles_spark.sinks.b3dm import (
    pack_b3dm,
    pack_glb,
    parse_b3dm,
    seed_tiles,
    tile_writer,
)
from osm_data_3d_tiles_spark.sources import fixtures as fx


class TestGlbPacking:
    def test_glb_structure(self):
        pos = np.array([0, 0, 0, 1, 0, 0, 0, 1, 0], dtype=np.float32)
        nrm = np.tile([0, 0, 1], 3).astype(np.float32)
        uv = np.zeros(6, dtype=np.float32)
        bid = np.zeros(3, dtype=np.float32)
        glb = pack_glb(pos, nrm, uv, bid)
        magic, version, total = struct.unpack("<III", glb[:12])
        assert magic == 0x46546C67 and version == 2 and total == len(glb)
        jlen, jtype = struct.unpack("<II", glb[12:20])
        gltf = json.loads(glb[20: 20 + jlen])
        assert gltf["meshes"][0]["primitives"][0]["attributes"] == {
            "POSITION": 0, "NORMAL": 1, "TEXCOORD_0": 2, "_BATCHID": 3,
        }
        assert gltf["accessors"][0]["min"] == [0.0, 0.0, 0.0]
        assert gltf["accessors"][0]["max"] == [1.0, 1.0, 0.0]
        # BIN chunk round-trips the positions
        boff = 20 + jlen
        blen, btype = struct.unpack("<II", glb[boff: boff + 8])
        assert btype == 0x004E4942
        view0 = gltf["bufferViews"][0]
        raw = glb[boff + 8 + view0["byteOffset"]:][: view0["byteLength"]]
        assert np.array_equal(np.frombuffer(raw[:36], dtype=np.float32), pos)

    def test_weld_dedups_shared_edge(self):
        """Quad as two triangles sharing an edge: 6 input vertices → 4 welded,
        6 indices, and the indexed mesh reconstructs the original triangles."""
        quad = np.array(
            [[0, 0, 0], [1, 0, 0], [1, 1, 0],   # tri 1
             [0, 0, 0], [1, 1, 0], [0, 1, 0]],  # tri 2 shares 2 vertices
            dtype=np.float32,
        )
        nrm = np.tile([0, 0, 1], 6).astype(np.float32)
        uv = np.zeros(12, dtype=np.float32)
        bid = np.zeros(6, dtype=np.float32)
        glb = pack_glb(quad.ravel(), nrm, uv, bid)
        jlen = struct.unpack("<II", glb[12:20])[0]
        gltf = json.loads(glb[20: 20 + jlen])
        prim = gltf["meshes"][0]["primitives"][0]
        assert gltf["accessors"][prim["attributes"]["POSITION"]]["count"] == 4
        idx_acc = gltf["accessors"][prim["indices"]]
        assert idx_acc["count"] == 6 and idx_acc["componentType"] == 5125
        boff = 20 + jlen
        bin_start = boff + 8
        pview = gltf["bufferViews"][prim["attributes"]["POSITION"]]
        iview = gltf["bufferViews"][idx_acc["bufferView"]]
        pos = np.frombuffer(
            glb[bin_start + pview["byteOffset"]:][: 4 * 12], np.float32
        ).reshape(4, 3)
        idx = np.frombuffer(glb[bin_start + iview["byteOffset"]:][: 6 * 4], np.uint32)
        assert np.array_equal(pos[idx], quad)

    def test_b3dm_roundtrip(self):
        glb = pack_glb(
            np.zeros(9, np.float32), np.zeros(9, np.float32),
            np.zeros(6, np.float32), np.zeros(3, np.float32),
        )
        data = pack_b3dm(glb, {"BATCH_LENGTH": 3}, {"building_height": [1, 2, 3]})
        out = parse_b3dm(data)
        assert out["feature_table"] == {"BATCH_LENGTH": 3}
        assert out["batch_table"] == {"building_height": [1, 2, 3]}
        assert out["glb"].startswith(b"glTF")
        # 3D Tiles 1.0 alignment is relative to the START OF THE TILE: with a
        # 28-byte header each block's ABSOLUTE end offset must be 8-aligned
        # (block-local len % 8 == 0 would leave everything off by 4)
        ftj = struct.unpack("<I", data[12:16])[0]
        btj = struct.unpack("<I", data[20:24])[0]
        assert (28 + ftj) % 8 == 0           # featureTable JSON end
        assert (28 + ftj + btj) % 8 == 0     # batchTable JSON end = GLB start
        assert struct.unpack("<I", data[8:12])[0] % 8 == 0  # total tile length
        assert len(data) % 8 == 0
        # glTF 2.0: the BIN chunk may exceed buffer.byteLength by at most 3
        # bytes — the GLB 8-alignment slack must live in the JSON chunk
        glb = out["glb"]
        jlen = struct.unpack("<I", glb[12:16])[0]
        import json as _json
        gltf = _json.loads(glb[20: 20 + jlen])
        blen = struct.unpack("<I", glb[20 + jlen: 24 + jlen])[0]
        assert 0 <= blen - gltf["buffers"][0]["byteLength"] <= 3


def _assigned(blds):
    """Buildings with their owner tile_key and derived params, as `cli seed`
    composes them."""
    owners = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
    return with_building_params(blds.join(owners, "osm_id"))


def _seed_frames(blds):
    """(tiles, batch) as `cli seed` hands them to `seed_tiles`: the tile rows
    carry their own batch tables, so there is no batch frame."""
    return build_tiles_3d(_assigned(blds)), None


def _fixture_buildings(spark):
    return fx.load_fixture(spark, "buildings", 0.001).filter(F.col("layer") == "buildings")


@pytest.fixture(scope="module")
def seeded_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("export"))
    n = seed_tiles(*_seed_frames(_fixture_buildings(spark)), out)
    assert n > 0 and n == len(os.listdir(os.path.join(out, "b3dm")))
    write_tileset(out, fx.FIXTURE_EXTENT, mode="mercator")
    return out


class TestSeedPath:
    def test_tiles_written_counts_this_call_only(self, spark, tmp_path):
        """A reused output directory keeps the tiles of an earlier, larger
        seed; the count is what this call wrote, not what the directory holds."""
        out = str(tmp_path)
        blds = _fixture_buildings(spark)
        first = seed_tiles(*_seed_frames(blds), out)
        tiles, batch = _seed_frames(blds.filter(F.col("osm_id") % 4 == 0))
        expected = tiles.count()
        assert 0 < expected < first
        assert seed_tiles(tiles, batch, out) == expected
        assert len(os.listdir(os.path.join(out, "b3dm"))) >= first

    def test_tiles_parse_and_match_batch_length(self, seeded_dir):
        files = sorted(os.listdir(os.path.join(seeded_dir, "b3dm")))
        assert files
        for fn in files[:5]:
            with open(os.path.join(seeded_dir, "b3dm", fn), "rb") as f:
                out = parse_b3dm(f.read())
            bl = out["feature_table"]["BATCH_LENGTH"]
            assert bl >= 1
            bt = out["batch_table"]
            assert "building_height" in bt and len(bt["building_height"]) == bl
            assert "box_center" in bt and len(bt["box_center"]) == bl
            # boxCenter z pinned to 10 (b3dmGenerator.ts:244-246)
            assert all(c[2] == 10.0 for c in bt["box_center"])

    def test_seed_plan_is_one_python_pass_and_one_tile_key_exchange(self, spark, tmp_path):
        """The `cli seed` sink plan: the cells explode, the per-tile build
        (geometry and batch table together) and the writer are the only
        Python operators, and tile_key is shuffled once, with no aggregate
        and no join on it."""
        tiles, batch = _seed_frames(_fixture_buildings(spark))
        sink = tile_writer(tiles, batch, str(tmp_path))
        plan = sink._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert plan.count("FlatMapGroupsInPandas") == 1
        assert plan.count("MapInArrow") == 1
        assert plan.count("hashpartitioning(tile_key") == 1
        assert "ObjectHashAggregate" not in plan
        assert not re.search(r"Join \[tile_key#", plan)

    def test_batch_table_types(self, spark, tmp_path):
        """A null bigint colour stays null next to integer colours, a null
        double stays null, booleans are JSON booleans next to null, and each
        tile's JSON batch table is its `batch_tables` row, in column order."""
        blds = _fixture_buildings(spark)
        sizes = _assigned(blds).groupBy("tile_key").count()
        keys = [r.tile_key for r in sizes.orderBy(F.desc("count"), "tile_key").limit(3).collect()]
        assigned = (
            _assigned(blds).filter(F.col("tile_key").isin(keys))
            .withColumn("building_roof_color", F.when(
                F.col("osm_id") % 2 == 0, F.lit(None)).otherwise(F.lit(0xFF8800)).cast("bigint"))
            .withColumn("station_id", F.when(
                F.col("osm_id") % 3 == 0, F.lit(None)).otherwise(F.lit(1.5)).cast("double"))
            .withColumn("is_part", F.when(F.col("osm_id") % 3 == 1, F.lit(None))
                        .otherwise(F.col("osm_id") % 3 == 0).cast("boolean"))
        )
        out = str(tmp_path)
        assert seed_tiles(build_tiles_3d(assigned), None, out) == len(keys)
        want = {r["tile_key"]: r for r in (
            row.asDict(recursive=True) for row in batch_tables(assigned).collect())}
        colours, station, is_part = [], [], []
        for key in keys:
            with open(os.path.join(out, "b3dm", f"{key}.b3dm"), "rb") as f:
                bt = parse_b3dm(f.read())["batch_table"]
            row = want[key]
            assert list(bt) == [c for c in row if c not in ("tile_key", "batch_length")]
            assert bt == {c: row[c] for c in bt}
            colours += bt["building_roof_color"]
            station += bt["station_id"]
            is_part += bt["is_part"]
        assert None in colours and {type(v) for v in colours if v is not None} == {int}
        assert 0xFF8800 in colours
        assert None in station and 1.5 in station
        assert None in is_part and True in is_part
        assert {type(v) for v in is_part if v is not None} == {bool}

    def test_tileset_json_written(self, seeded_dir):
        with open(os.path.join(seeded_dir, "tileset.json")) as f:
            root = json.load(f)
        assert root["root"]["geometricError"] == 512
        assert root["root"]["refine"] == "ADD"


class TestQuantizedGlb:
    """Round-4: the KHR_mesh_quantization path — the sink's self-contained
    compressed artifact (documented alternative to the reference's Draco
    stage, b3dmGenerator.ts:182-195; no codec lib in this sandbox)."""

    def _mesh(self):
        # two triangles over a realistic tile-frame extent, duplicated verts
        # so the weld + index path is exercised
        rng = np.random.RandomState(42)
        tris = rng.rand(40, 3, 3) * np.array([611.5, 611.5, 95.0])
        pos = tris.reshape(-1, 3).astype(np.float32)
        nrm = np.tile([0.0, 0.6, 0.8], (len(pos), 1)).astype(np.float32)
        uv = rng.rand(len(pos), 2).astype(np.float32)
        bid = (np.arange(len(pos)) // 3 % 7).astype(np.float32)
        return pos, nrm, uv, bid

    def test_decode_reencode_round_trip(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb, unpack_glb

        pos, nrm, uv, bid = self._mesh()
        glb = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid, quantize=True)
        out = unpack_glb(glb)
        assert out["quantized"]
        # grid step = extent/65535 -> world error bounded by half a step
        extent = pos.max(axis=0) - pos.min(axis=0)
        step = extent / 65535.0
        # compare against the welded mesh (what the encoder actually stores)
        from osm_data_3d_tiles_spark.sinks.b3dm import weld_vertices
        wpos, wnrm, wuv, wbid, widx = weld_vertices(pos, nrm, uv, bid)
        assert out["position"].shape == wpos.shape
        assert np.abs(out["position"] - wpos).max(axis=0) == pytest.approx(
            np.zeros(3), abs=float(step.max()) * 0.51 + 1e-9
        )
        assert np.abs(out["normal"] - wnrm).max() <= 1 / 127 + 1e-6
        assert np.array_equal(out["uv"], wuv)
        assert np.array_equal(out["batch_id"], wbid)
        assert np.array_equal(out["indices"], widx)
        # REENCODE the decoded mesh: quantization is idempotent (decoded
        # positions sit on the grid, so a second encode is bit-stable)
        tri_pos = out["position"][out["indices"]].reshape(-1)
        tri_nrm = out["normal"][out["indices"]].reshape(-1)
        tri_uv = out["uv"][out["indices"]].reshape(-1)
        tri_bid = out["batch_id"][out["indices"]]
        glb2 = pack_glb(tri_pos, tri_nrm, tri_uv, tri_bid, quantize=True)
        out2 = unpack_glb(glb2)
        assert np.allclose(out2["position"][out2["indices"]],
                           out["position"][out["indices"]], atol=float(step.max()) * 0.51)

    def test_quantized_is_smaller_and_valid_gltf(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb

        pos, nrm, uv, bid = self._mesh()
        plain = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid)
        quant = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid, quantize=True)
        assert len(quant) < len(plain)
        jlen = struct.unpack("<II", quant[12:20])[0]
        gltf = json.loads(quant[20 : 20 + jlen])
        assert gltf["extensionsRequired"] == ["KHR_mesh_quantization"]
        acc_pos = gltf["accessors"][0]
        assert acc_pos["componentType"] == 5123 and "normalized" not in acc_pos
        assert gltf["accessors"][1]["componentType"] == 5120
        assert gltf["accessors"][1]["normalized"] is True
        # vertex bufferViews carry 4-multiple strides (glTF alignment rule)
        for a in gltf["accessors"][:4]:
            stride = gltf["bufferViews"][a["bufferView"]]["byteStride"]
            assert stride % 4 == 0
        assert len(quant) % 8 == 0  # b3dm embedding alignment

    def test_unpack_glb_reads_uncompressed_too(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb, unpack_glb, weld_vertices

        pos, nrm, uv, bid = self._mesh()
        glb = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid)
        out = unpack_glb(glb)
        wpos, wnrm, wuv, wbid, widx = weld_vertices(pos, nrm, uv, bid)
        assert not out["quantized"]
        assert np.array_equal(out["position"], wpos)
        assert np.array_equal(out["indices"], widx)
