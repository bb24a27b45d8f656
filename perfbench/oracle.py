"""Independent oracles for the benchmark's outputs.

Nothing here imports the engine: the geotag regex, the EPSG:3857 projection
and the even-odd ray cast are written out again, so a bug in the engine's
geometry, text or mercator helpers cannot make the oracle agree with it. The
ray cast visits each edge with the same vertex roles as the engine's kernel
(vertex k against vertex k-1), so a point on a floating-point knife edge gets
the same answer from both.
"""

from __future__ import annotations

import glob
import json
import os
import re
import struct
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import HALF_SIZE, R

GEO_RE = re.compile(r'<meta name="geo\.position" content="([-+0-9.]+);([-+0-9.]+)"')


def page_index(urls) -> np.ndarray:
    """Page number from `https://siteN.example/page/{i}` urls."""
    return np.array([int(u.rsplit("/", 1)[1]) for u in urls], dtype=np.int64)


def geotagged_points(pages_path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(page index, x, y) of every page whose html carries a geotag."""
    t = pq.read_table(pages_path, columns=["url", "html"])
    urls, lat, lon = [], [], []
    for url, html in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
        m = GEO_RE.search(html.decode("utf-8"))
        if m:
            urls.append(url)
            lat.append(float(m.group(1)))
            lon.append(float(m.group(2)))
    lat_a = np.array(lat, dtype=np.float64)
    lon_a = np.array(lon, dtype=np.float64)
    x = HALF_SIZE * lon_a / 180.0
    y = R * np.log(np.tan(np.pi * (lat_a + 90.0) / 360.0))
    return page_index(urls), x, y


def building_rings(buildings_path: str) -> dict[int, list[np.ndarray]]:
    """osm_id -> rings (M, 2) of every row on the `buildings` layer."""
    t = pq.read_table(buildings_path, columns=["osm_id", "layer", "geometry"])
    t = t.filter(pc.equal(t.column("layer"), "buildings"))
    return {
        oid: [np.asarray(r, dtype=np.float64) for r in geom]
        for oid, geom in zip(t.column("osm_id").to_pylist(), t.column("geometry").to_pylist())
    }


def _inside(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        for k in range(1, len(ring)):
            xi, yi = ring[k]
            xj, yj = ring[k - 1]
            straddle = (yi > py) != (yj > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = (xj - xi) * (py - yi) / (yj - yi) + xi
            inside ^= straddle & (px < x_at)
    return inside


def sort_pairs(pairs: np.ndarray) -> np.ndarray:
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


def expected_join(pages_path: str, buildings_path: str) -> np.ndarray:
    """Sorted (page index, osm_id) pairs of every page inside a building."""
    idx, x, y = geotagged_points(pages_path)
    order = np.argsort(x, kind="stable")
    idx, x, y = idx[order], x[order], y[order]
    pairs = []
    for oid, rings in building_rings(buildings_path).items():
        allv = np.concatenate(rings)
        lo = np.searchsorted(x, allv[:, 0].min(), side="left")
        hi = np.searchsorted(x, allv[:, 0].max(), side="right")
        sel = np.arange(lo, hi)
        sel = sel[(y[sel] >= allv[:, 1].min()) & (y[sel] <= allv[:, 1].max())]
        hit = sel[_inside(x[sel], y[sel], rings)]
        pairs.extend((int(i), oid) for i in idx[hit])
    return sort_pairs(np.array(pairs, dtype=np.int64).reshape(-1, 2))


def check_flagship(workdir: str, printed: dict, expected: np.ndarray, n_buildings: int) -> list[str]:
    """Problems with one `cli flagship` run; empty when it is correct."""
    problems = []
    jr = pq.read_table(os.path.join(workdir, "join_rows"), columns=["url", "osm_id"])
    got = sort_pairs(np.column_stack([
        page_index(jr.column("url").to_pylist()),
        np.asarray(jr.column("osm_id").to_numpy(), dtype=np.int64),
    ]))
    if got.shape != expected.shape or not np.array_equal(got, expected):
        problems.append(f"join rows differ from the oracle ({len(got)} vs {len(expected)})")
    if printed.get("join_rows") != len(expected):
        problems.append(f"printed join_rows {printed.get('join_rows')} != {len(expected)}")
    if printed.get("owned_buildings") != n_buildings:
        problems.append(f"owned_buildings {printed.get('owned_buildings')} != {n_buildings}")
    counts = pq.read_table(os.path.join(workdir, "tile_doc_counts"), columns=["docs"])
    if int(pc.sum(counts.column("docs")).as_py() or 0) != len(expected):
        problems.append("per-tile doc counts do not sum to the join rows")
    if printed.get("tiles_with_docs") != counts.num_rows:
        problems.append("printed tiles_with_docs differs from the tile_doc_counts table")
    return problems


def parse_b3dm(data: bytes) -> tuple[dict, dict]:
    """(feature table, batch table) of one b3dm; raises ValueError when the
    tile or its embedded glb is malformed."""
    if len(data) < 28:
        raise ValueError("shorter than the b3dm header")
    magic, version, total, ftj, ftb, btj, btb = struct.unpack("<4sIIIIII", data[:28])
    if magic != b"b3dm" or version != 1 or total != len(data):
        raise ValueError(f"bad b3dm header (magic {magic!r}, length {total} vs {len(data)})")
    p = 28
    feature_table = json.loads(data[p:p + ftj]) if ftj else {}
    p += ftj + ftb
    batch_table = json.loads(data[p:p + btj]) if btj else {}
    p += btj + btb
    glb = data[p:]
    if len(glb) < 12:
        raise ValueError("missing glb")
    gmagic, gversion, glen = struct.unpack("<4sII", glb[:12])
    if gmagic != b"glTF" or gversion != 2 or glen != len(glb):
        raise ValueError("bad glb header")
    return feature_table, batch_table


def check_seed(out_dir: str, printed: dict, building_ids: list[int]) -> list[str]:
    """Problems with one `cli seed` run; empty when it is correct."""
    problems = []
    files = sorted(glob.glob(os.path.join(out_dir, "b3dm", "*.b3dm")))
    if printed.get("tiles_written") != len(files):
        problems.append(f"printed tiles_written {printed.get('tiles_written')} != {len(files)} files")
    batch_total = 0
    placed: Counter = Counter()
    for path in files:
        with open(path, "rb") as f:
            data = f.read()
        try:
            ft, bt = parse_b3dm(data)
        except ValueError as e:  # json.JSONDecodeError is a ValueError
            problems.append(f"{os.path.basename(path)}: {e}")
            continue
        batch_total += int(ft.get("BATCH_LENGTH", 0))
        placed.update(bt.get("osm_id", []))
    if batch_total != len(building_ids):
        problems.append(f"BATCH_LENGTH sum {batch_total} != {len(building_ids)} buildings")
    if set(placed) != set(building_ids) or any(c != 1 for c in placed.values()):
        problems.append("some building is not in exactly one tile")
    try:
        with open(os.path.join(out_dir, "tileset.json")) as f:
            tileset = json.load(f)
        if "root" not in tileset or "asset" not in tileset:
            problems.append("tileset.json has no root or asset")
    except (OSError, ValueError) as e:
        problems.append(f"tileset.json: {e}")
    return problems
