"""Mapbox Vector Tile (PBF) ingestion — the reference's only real data source.

Reference path: /root/reference/src/b3dmGenerator.ts:95-107 fetches
`{TILE_URL}/16/{x}/{y}.pbf` and parses it with OpenLayers' MVT reader into
features whose properties carry `layer`, `osm_id`, `osm_type` and the raw OSM
building tags. This module is the Spark-native equivalent: a dependency-free
decoder for the public Mapbox Vector Tile 2.1 wire format (protobuf
varint/length-delimited fields only — MVT uses no other wire types) plus a
`mapInPandas` operator that turns a distributed table of raw tile payloads
(z, x, y, payload:binary) into the engine's buildings schema, with geometry
already projected to EPSG:3857 the way OpenLayers' `featureProjection` does.

Scale shape: tile payloads are opaque binary rows. `read_pbf_dir` (`cli
ingest-mvt`) reads them from a `{z}/{x}/{y}.pbf` directory tree with
`spark.read.format("binaryFile")`; any parquet table of blobs serves as well.
This engine fetches nothing over HTTP. Decode happens Arrow-batched on
executors (one Python stage, no shuffle), and the output is immediately
partitionable by the same cell keys as the fixture tables. An MVT encoder is
included for round-trip tests and for emitting vector tiles as a sink.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import mercator as m

# ---------------------------------------------------------------------------
# protobuf wire primitives (MVT uses only wire types 0=varint and 2=bytes)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7


def _write_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, int | bytes]]:
    """Yield (field_number, wire_type, value) — value is an int for varints,
    bytes for length-delimited fields."""
    i = 0
    n = len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        field, wtype = tag >> 3, tag & 0x7
        if wtype == 0:
            v, i = _read_varint(buf, i)
            yield field, wtype, v
        elif wtype == 2:
            ln, i = _read_varint(buf, i)
            yield field, wtype, buf[i : i + ln]
            i += ln
        elif wtype == 5:  # fixed32 (MVT float values)
            yield field, wtype, buf[i : i + 4]
            i += 4
        elif wtype == 1:  # fixed64 (MVT double values)
            yield field, wtype, buf[i : i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wtype}")


def _zigzag_decode(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


# ---------------------------------------------------------------------------
# MVT decode (spec 2.1: Tile.layer=3; Layer name=1 feature=2 key=3 value=4
# extent=5 version=15; Feature id=1 tags=2 type=3 geometry=4)
# ---------------------------------------------------------------------------

GEOM_POLYGON = 3  # MVT GeomType: 1 point, 2 linestring, 3 polygon


def _decode_value(buf: bytes):
    for field, _w, v in _iter_fields(buf):
        if field == 1:
            return v.decode("utf-8")
        if field == 2:
            return struct.unpack("<f", v)[0]
        if field == 3:
            return struct.unpack("<d", v)[0]
        if field == 4:
            # int64: negative values arrive as 10-byte two's-complement varints
            return v - (1 << 64) if v >= 1 << 63 else v
        if field == 5:
            return v  # uint64
        if field == 6:
            return _zigzag_decode(v)  # sint64
        if field == 7:
            return bool(v)
    return None


def _decode_geometry(cmds: list[int]) -> list[list[tuple[int, int]]]:
    """Geometry command stream → list of paths in tile-local integer coords.
    cmd = (id & 0x7) | (count << 3); 1=MoveTo 2=LineTo 7=ClosePath; params are
    zigzag deltas from the running cursor."""
    paths: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cmd_int = cmds[i]
        i += 1
        cmd, count = cmd_int & 0x7, cmd_int >> 3
        if cmd == 1:  # MoveTo starts a new path
            for _ in range(count):
                x += _zigzag_decode(cmds[i])
                y += _zigzag_decode(cmds[i + 1])
                i += 2
                if cur:
                    paths.append(cur)
                cur = [(x, y)]
        elif cmd == 2:  # LineTo
            for _ in range(count):
                x += _zigzag_decode(cmds[i])
                y += _zigzag_decode(cmds[i + 1])
                i += 2
                cur.append((x, y))
        elif cmd == 7:  # ClosePath (no params): repeat the start vertex
            if cur:
                cur.append(cur[0])
        else:
            raise ValueError(f"unknown MVT geometry command {cmd}")
    if cur:
        paths.append(cur)
    return paths


def _decode_feature(buf: bytes, keys: list[str], values: list) -> dict:
    feat = {"id": None, "type": None, "props": {}, "paths": []}
    for field, _w, v in _iter_fields(buf):
        if field == 1:
            feat["id"] = v
        elif field == 2:  # packed tag pairs (key_idx, value_idx)
            idxs = []
            i = 0
            while i < len(v):
                tag, i = _read_varint(v, i)
                idxs.append(tag)
            for k_i, v_i in zip(idxs[::2], idxs[1::2]):
                feat["props"][keys[k_i]] = values[v_i]
        elif field == 3:
            feat["type"] = v
        elif field == 4:
            cmds = []
            i = 0
            while i < len(v):
                c, i = _read_varint(v, i)
                cmds.append(c)
            feat["paths"] = _decode_geometry(cmds)
    return feat


def decode_mvt(data: bytes) -> list[dict]:
    """Raw .pbf tile → [{name, extent, version, features:[{id,type,props,paths}]}]."""
    layers = []
    for field, _w, v in _iter_fields(data):
        if field != 3:
            continue
        name, extent, version = "", 4096, 2
        feature_bufs: list[bytes] = []
        keys: list[str] = []
        values: list = []
        for lf, _lw, lv in _iter_fields(v):
            if lf == 1:
                name = lv.decode("utf-8")
            elif lf == 2:
                feature_bufs.append(lv)
            elif lf == 3:
                keys.append(lv.decode("utf-8"))
            elif lf == 4:
                values.append(_decode_value(lv))
            elif lf == 5:
                extent = lv
            elif lf == 15:
                version = lv
        layers.append(
            {
                "name": name,
                "extent": extent,
                "version": version,
                "features": [_decode_feature(fb, keys, values) for fb in feature_bufs],
            }
        )
    return layers


# ---------------------------------------------------------------------------
# tile-local → EPSG:3857 (what OpenLayers featureProjection does)
# ---------------------------------------------------------------------------


def tile_local_to_mercator(
    paths: list[list[tuple[int, int]]], z: int, tx: int, ty: int, extent: int
) -> list[list[list[float]]]:
    span = m.tile_span(z)
    x0 = -m.HALF_SIZE + tx * span
    y0 = m.HALF_SIZE - ty * span  # tile-local y grows downward
    scale = span / extent
    return [
        [[x0 + px * scale, y0 - py * scale] for px, py in path] for path in paths
    ]


def _ring_area(ring: list[list[float]]) -> float:
    a = np.asarray(ring, dtype=np.float64)
    return 0.5 * float(np.sum(a[:-1, 0] * a[1:, 1] - a[1:, 0] * a[:-1, 1]))


# ---------------------------------------------------------------------------
# Spark operator: (z, x, y, payload) → buildings rows
# ---------------------------------------------------------------------------

# raw OSM building properties the params kernel consumes (same names the
# reference's BuildingProperties carries and the fixture tables use)
_PROP_FIELDS: list[tuple[str, T.DataType]] = [
    ("osm_type", T.StringType()),
    ("building_type", T.StringType()),
    ("height", T.DoubleType()),
    ("levels", T.DoubleType()),
    ("min_height", T.DoubleType()),
    ("min_level", T.DoubleType()),
    ("roof_levels", T.DoubleType()),
    ("roof_height", T.DoubleType()),
    ("roof_type", T.StringType()),
    ("roof_material", T.StringType()),
    ("roof_color", T.StringType()),
    ("roof_direction", T.DoubleType()),
    ("roof_orientation", T.StringType()),
    ("material", T.StringType()),
    ("name", T.StringType()),
    ("windows", T.BooleanType()),
    ("is_part", T.BooleanType()),
    ("building", T.StringType()),
]

MVT_BUILDINGS_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType()),
        T.StructField("layer", T.StringType()),
        T.StructField("tile_z", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField(
            "geometry", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
        ),
        T.StructField("ring_types", T.ArrayType(T.StringType())),
    ]
    + [T.StructField(n, t) for n, t in _PROP_FIELDS]
)

_NUMERIC = {n for n, t in _PROP_FIELDS if isinstance(t, T.DoubleType)}
_BOOL = {n for n, t in _PROP_FIELDS if isinstance(t, T.BooleanType)}


def _coerce(name: str, v):
    if v is None:
        return None
    try:
        if name in _NUMERIC:
            return float(v)
        if name in _BOOL:
            if isinstance(v, str):
                return v.lower() in ("yes", "true", "1")
            return bool(v)
        return str(v)
    except (TypeError, ValueError):
        return None


def _coerce_osm_id(v, feature_id):
    """int64 osm_id from whatever the tile carries: int, numeric string,
    float-ish string ('123.0', '1.5e7' — JSON round-trips stringify this way),
    or 'way/123'-style prefixed string. Falls back to the MVT feature id, else
    None — one malformed feature never fails the stage. The digit-run fallback
    requires a non-numeric prefix boundary so '123.0' never truncates to its
    fractional digits."""
    import re

    for cand in (v, feature_id):
        if cand is None:
            continue
        try:
            return int(cand)
        except (TypeError, ValueError):
            pass
        s = str(cand).strip()
        try:
            f = float(s)
            if f == int(f):
                return int(f)
            continue  # genuinely fractional id — fall through to feature_id
        except (ValueError, OverflowError):
            pass
        m = re.search(r"(?:^|[^\d.])(\d+)$", s)
        if m:
            return int(m.group(1))
    return None


def mvt_tiles_to_buildings(tiles: DataFrame, layer: str = "buildings") -> DataFrame:
    """tiles(tile_z, tile_x, tile_y, payload:binary) → one buildings row per
    polygon feature of `layer`, geometry in EPSG:3857 rings with outer/inner
    ring_types (MVT winding: exterior rings have positive tile-space area).

    One Arrow-batched stage, no shuffle; feeds directly into
    `with_building_params` → `spatial_join` → `build_tiles_3d`."""
    cols = [f.name for f in MVT_BUILDINGS_SCHEMA.fields]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, tx, ty, payload in zip(
                pdf["tile_z"], pdf["tile_x"], pdf["tile_y"], pdf["payload"]
            ):
                if payload is None:  # a caller's table may hold null payloads
                    continue
                for lyr in decode_mvt(bytes(payload)):
                    for feat in lyr["features"]:
                        props = feat["props"]
                        feat_layer = str(props.get("layer", lyr["name"]))
                        if layer is not None and feat_layer != layer:
                            continue
                        if feat["type"] != GEOM_POLYGON:
                            continue
                        rings = tile_local_to_mercator(
                            feat["paths"], int(z), int(tx), int(ty), lyr["extent"]
                        )
                        # MVT winding: exterior = positive area in y-down tile
                        # coords, which flips sign under the y-up mercator
                        # transform → outer rings have NEGATIVE mercator area
                        ring_types = [
                            "outer" if _ring_area(r) <= 0 else "inner" for r in rings
                        ]
                        osm_id = props.get("osm_id", feat["id"])
                        # real-world tiles carry string ids like 'way/123' —
                        # degrade per-feature (digits-suffix, else feature id,
                        # else null) instead of failing the whole ingest stage
                        row = {
                            "osm_id": _coerce_osm_id(osm_id, feat["id"]),
                            "layer": feat_layer,
                            "tile_z": int(z),
                            "tile_x": int(tx),
                            "tile_y": int(ty),
                            "geometry": rings,
                            "ring_types": ring_types,
                        }
                        for n, _t in _PROP_FIELDS:
                            row[n] = _coerce(n, props.get(n))
                        rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return tiles.select("tile_z", "tile_x", "tile_y", "payload").mapInPandas(
        _decode, schema=MVT_BUILDINGS_SCHEMA
    )


def read_pbf_dir(spark, path: str) -> DataFrame:
    """Directory of {z}/{x}/{y}.pbf (the reference's TILE_URL layout) →
    (tile_z, tile_x, tile_y, payload) via Spark's distributed binaryFile source."""
    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.pbf").option(
        "recursiveFileLookup", "true"
    ).load(path)
    parts = F.split(F.regexp_replace(F.col("path"), r"\.pbf$", ""), "/")
    return files.select(
        F.element_at(parts, -3).cast("int").alias("tile_z"),
        F.element_at(parts, -2).cast("long").alias("tile_x"),
        F.element_at(parts, -1).cast("long").alias("tile_y"),
        F.col("content").alias("payload"),
    )


# ---------------------------------------------------------------------------
# MVT encode (round-trip tests + vector-tile sink)
# ---------------------------------------------------------------------------


def _field(field: int, wtype: int, payload: bytes | int) -> bytes:
    tag = _write_varint((field << 3) | wtype)
    if wtype == 0:
        return tag + _write_varint(payload)
    if wtype in (1, 5):  # fixed64 / fixed32: raw bytes, no length prefix
        return tag + payload
    return tag + _write_varint(len(payload)) + payload


def _encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _field(7, 0, int(v))
    if isinstance(v, int):
        return _field(6, 0, _zigzag_encode(v))
    if isinstance(v, float):
        return _field(3, 1, struct.pack("<d", v))
    return _field(1, 2, str(v).encode("utf-8"))


def _encode_geometry(paths: list[list[tuple[int, int]]], close: bool) -> bytes:
    cmds: list[int] = []
    x = y = 0
    for path in paths:
        pts = path[:-1] if close and len(path) > 1 and path[0] == path[-1] else path
        cmds.append((1 << 3) | 1)  # MoveTo ×1
        dx, dy = pts[0][0] - x, pts[0][1] - y
        cmds += [_zigzag_encode(dx), _zigzag_encode(dy)]
        x, y = pts[0]
        rest = pts[1:]
        if rest:
            cmds.append((len(rest) << 3) | 2)  # LineTo ×n
            for px, py in rest:
                cmds += [_zigzag_encode(px - x), _zigzag_encode(py - y)]
                x, y = px, py
        if close:
            cmds.append(7)  # ClosePath
    out = b"".join(_write_varint(c) for c in cmds)
    return _field(4, 2, out)


def encode_mvt(layers: list[dict]) -> bytes:
    """Inverse of decode_mvt: [{name, extent, features:[{id, type, props,
    paths}]}] → .pbf bytes. Paths are tile-local integer coords; polygons are
    closed with ClosePath per the spec."""
    out = b""
    for lyr in layers:
        keys: list[str] = []
        values: list = []
        kidx: dict = {}
        vidx: dict = {}
        feat_bufs = []
        for feat in lyr["features"]:
            tag_idxs = []
            for k, v in feat.get("props", {}).items():
                if k not in kidx:
                    kidx[k] = len(keys)
                    keys.append(k)
                vk = (type(v).__name__, v)
                if vk not in vidx:
                    vidx[vk] = len(values)
                    values.append(v)
                tag_idxs += [kidx[k], vidx[vk]]
            fb = b""
            if feat.get("id") is not None:
                fb += _field(1, 0, feat["id"])
            if tag_idxs:
                fb += _field(2, 2, b"".join(_write_varint(t) for t in tag_idxs))
            gtype = feat.get("type", GEOM_POLYGON)
            fb += _field(3, 0, gtype)
            fb += _encode_geometry(feat["paths"], close=gtype == GEOM_POLYGON)
            feat_bufs.append(fb)
        lb = _field(15, 0, lyr.get("version", 2))
        lb += _field(1, 2, lyr["name"].encode("utf-8"))
        for fb in feat_bufs:
            lb += _field(2, 2, fb)
        for k in keys:
            lb += _field(3, 2, k.encode("utf-8"))
        for v in values:
            lb += _field(4, 2, _encode_value(v))
        lb += _field(5, 0, lyr.get("extent", 4096))
        out += _field(3, 2, lb)
    return out
