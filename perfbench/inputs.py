"""Seeded workload inputs, owned by the benchmark.

The logic follows the engine's synthetic fixtures (a Common-Crawl-style pages
table and an OSM-style buildings table inside one z12 tile over Lyon), but it
lives here with the seed and the sizes as parameters, so editing the engine's
fixture module cannot change a workload. At seed 42 the parquet files are
byte-identical to the engine's fixtures of the same size (sf0.1: 200,000 pages
and 2,000 building rows), which keeps the documented seed-42 counts;
test_perfbench.py checks this at sf0.001.

Pages use `RandomState(seed)`, buildings `RandomState(seed + 1)`, with the
seed taken modulo 2**32 - 1 so that any integer seed is valid; every draw
happens in the same order as in the fixture generator. The page loop is
vectorized: its only per-row draw is the duplicate-text coin for rows 1..n-1,
which `rand(n - 1)` yields in the same order.
"""

from __future__ import annotations

import math
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# EPSG:3857 constants, written out here rather than imported from the engine
R = 6378137.0
HALF_SIZE = math.pi * R
WORLD_SIZE = 2.0 * HALF_SIZE
Z_LEAF = 16
LYON_EXTENT = (483846.38180292473, 5694711.4384306185, 594527.2326621102, 5785212.880144494)


def tile_span(z: int) -> float:
    return WORLD_SIZE / (1 << z)


def tile_extent(z: int, tx: int, ty: int) -> tuple[float, float, float, float]:
    span = tile_span(z)
    min_x = -HALF_SIZE + tx * span
    max_y = HALF_SIZE - ty * span
    return (min_x, max_y - span, min_x + span, max_y)


def _extent() -> tuple[float, float, float, float]:
    cx = (LYON_EXTENT[0] + LYON_EXTENT[2]) / 2.0
    cy = (LYON_EXTENT[1] + LYON_EXTENT[3]) / 2.0
    tx12 = int((cx + HALF_SIZE) // tile_span(12))
    ty12 = int((HALF_SIZE - cy) // tile_span(12))
    return tile_extent(12, tx12, ty12)


EXTENT = _extent()  # exactly 16x16 z16 tiles
SEED_MOD = 2**32 - 1  # RandomState takes seeds below 2**32; buildings add 1
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

LANG_TEXT = {
    "en": "the quick brown fox jumps over the lazy dog and runs far away with great speed",
    "fr": "le chat noir dort dans la maison et les oiseaux chantent pour une belle journée",
    "de": "der alte mann und das kleine kind gehen mit dem hund durch die stadt für ein eis",
    "es": "el perro grande corre por la calle y los niños juegan con una pelota en el parque",
}
LANGS = ("en", "fr", "de", "es")
BUILDING_TYPES = [
    "house", "apartments", "roof", "garage", "shed", "industrial", "retail",
    "church", "school", "greenhouse", "barn", "office",
]
ROOF_TYPES = ["flat", "gabled", "hipped", "skillion", "pyramidal", "dome", None]
MATERIALS = ["brick", "wood", "concrete", "glass", None]


def merc_to_lonlat(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = 180.0 * x / HALF_SIZE
    lat = 360.0 * np.arctan(np.exp(y / R)) / np.pi - 90.0
    return lon, lat


def make_pages(n: int, seed: int) -> pd.DataFrame:
    """n pages; 30 % in a hot spot covering 1 % of the area, 2 % without a
    geotag, 1 % duplicating the previous page's text."""
    rng = np.random.RandomState(seed % SEED_MOD)
    min_x, min_y, max_x, max_y = EXTENT
    w, h = max_x - min_x, max_y - min_y

    hot = rng.rand(n) < 0.30
    x = np.where(hot, min_x + w * (0.45 + 0.10 * rng.rand(n)), min_x + w * rng.rand(n))
    y = np.where(hot, min_y + h * (0.45 + 0.10 * rng.rand(n)), min_y + h * rng.rand(n))
    lon, lat = merc_to_lonlat(x, y)
    lat_s = np.char.mod("%.7f", lat)
    lon_s = np.char.mod("%.7f", lon)

    has_geo = rng.rand(n) >= 0.02
    langs = np.array(LANGS)[rng.randint(0, 4, size=n)]
    words_cnt = rng.randint(5, 15, size=n)
    dup = np.concatenate([[False], rng.rand(n - 1) < 0.01]) if n > 1 else np.zeros(n, bool)
    # a duplicate copies the text of the nearest earlier non-duplicate page
    src = np.maximum.accumulate(np.where(dup, 0, np.arange(n)))

    words = {lang: text.split() for lang, text in LANG_TEXT.items()}
    bodies = []
    for i, (lang, k) in enumerate(zip(langs.tolist(), words_cnt.tolist())):
        base = words[lang]
        start = i % max(1, len(base) - k)
        bodies.append(" ".join(base[start:start + k]) + f" page {i}")
    texts = [bodies[j] for j in src.tolist()]
    htmls = [
        (
            "<html><head>"
            + (f'<meta name="geo.position" content="{la};{lo}">' if g else "")
            + f"<title>p{i}</title></head><body><p>{t}</p></body></html>"
        ).encode("utf-8")
        for i, (la, lo, g, t) in enumerate(
            zip(lat_s.tolist(), lon_s.tolist(), has_geo.tolist(), texts)
        )
    ]
    idx = np.arange(n)
    return pd.DataFrame(
        {
            "url": [f"https://site{i % 997}.example/page/{i}" for i in idx.tolist()],
            "warc_ts": pd.Timestamp(EPOCH) + pd.to_timedelta(idx * 37, unit="s"),
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


def _rect(cx, cy, wx, wy, rot):
    c, s = np.cos(rot), np.sin(rot)
    corners = np.array([[-wx, -wy], [wx, -wy], [wx, wy], [-wx, wy]]) / 2.0
    rot_m = np.array([[c, -s], [s, c]])
    pts = corners @ rot_m.T + np.array([cx, cy])
    return np.vstack([pts, pts[:1]])


def _l_shape(cx, cy, a, b):
    pts = np.array(
        [[0, 0], [a, 0], [a, b * 0.4], [a * 0.4, b * 0.4], [a * 0.4, b], [0, b]], dtype=float
    )
    pts = pts - pts.mean(axis=0) + np.array([cx, cy])
    return np.vstack([pts, pts[:1]])


def make_buildings(n: int, seed: int) -> pd.DataFrame:
    """n footprint rows (about 5 % on the `roads` layer): rectangles,
    L-shapes, rings with a hole and two-part multipolygons; 25 % in the hot
    spot and 15 % snapped onto a z16 tile edge so they straddle tiles."""
    rng = np.random.RandomState(seed % SEED_MOD + 1)
    min_x, min_y, max_x, max_y = EXTENT
    w, h = max_x - min_x, max_y - min_y
    span16 = tile_span(Z_LEAF)

    rows = []
    for i in range(n):
        hot = rng.rand() < 0.25
        if hot:
            cx = min_x + w * (0.45 + 0.10 * rng.rand())
            cy = min_y + h * (0.45 + 0.10 * rng.rand())
        else:
            cx = min_x + w * (0.02 + 0.96 * rng.rand())
            cy = min_y + h * (0.02 + 0.96 * rng.rand())
        if rng.rand() < 0.15:
            cx = -HALF_SIZE + np.floor((cx + HALF_SIZE) / span16) * span16

        size = 5.0 + 35.0 * rng.rand()
        shape = rng.rand()
        if shape < 0.60:
            rings = [_rect(cx, cy, size, size * (0.5 + rng.rand()), rng.rand() * np.pi).tolist()]
            ring_types = ["outer"]
        elif shape < 0.85:
            rings = [_l_shape(cx, cy, size, size * (0.6 + 0.8 * rng.rand())).tolist()]
            ring_types = ["outer"]
        elif shape < 0.95:
            rings = [
                _rect(cx, cy, size, size, 0.0).tolist(),
                _rect(cx, cy, size * 0.4, size * 0.4, 0.0)[::-1].tolist(),
            ]
            ring_types = ["outer", "inner"]
        else:
            off = size * 1.5
            rings = [
                _rect(cx - off, cy, size * 0.8, size * 0.8, 0.0).tolist(),
                _rect(cx + off, cy, size * 0.8, size * 0.8, 0.0).tolist(),
            ]
            ring_types = ["outer", "outer"]

        btype = BUILDING_TYPES[rng.randint(0, len(BUILDING_TYPES))]
        camel = rng.rand() < 0.10

        def opt(p, gen):
            return gen() if rng.rand() < p else None

        rows.append(
            {
                "osm_id": 10_000_000 + i,
                "osm_type": "way" if rng.rand() < 0.9 else "relation",
                "layer": "buildings" if rng.rand() >= 0.05 else "roads",
                "geometry": rings,
                "ring_types": ring_types,
                "building_type": btype,
                "height": opt(0.5, lambda: float(np.round(4 + 46 * rng.rand(), 1))),
                "levels": opt(0.5, lambda: float(rng.randint(1, 12))),
                "min_height": opt(0.2, lambda: float(np.round(4 * rng.rand(), 1))),
                "min_level": opt(0.2, lambda: float(rng.randint(0, 2))),
                "roof_levels": opt(0.3, lambda: float(rng.randint(-1, 3))),
                "roof_height": opt(0.3, lambda: float(np.round(3 * rng.rand(), 1))),
                "roof_type": ROOF_TYPES[rng.randint(0, len(ROOF_TYPES))],
                "roof_material": opt(0.3, lambda: "tiles"),
                "roof_color": opt(0.1, lambda: "#aa3322"),
                "roof_direction": opt(0.1, lambda: float(rng.randint(0, 360))),
                "roof_orientation": opt(0.1, lambda: ["along", "across", "weird"][rng.randint(0, 3)]),
                "roofType": ROOF_TYPES[rng.randint(0, len(ROOF_TYPES))] if camel else None,
                "roofMaterial": ("metal" if camel else None),
                "roofColor": (int(rng.randint(0, 1 << 24)) if camel and rng.rand() < 0.5 else None),
                "material": MATERIALS[rng.randint(0, len(MATERIALS))],
                "color": (int(rng.randint(0, 1 << 24)) if rng.rand() < 0.15 else None),
                "name": (f"Building {i}" if rng.rand() < 0.2 else None),
                "windows": (bool(rng.rand() < 0.5) if rng.rand() < 0.1 else None),
                "is_part": bool(rng.rand() < 0.1),
                "building": btype,
                "rnb": (f"RNB{i}" if rng.rand() < 0.3 else None),
                "match_rnb_ids": None,
                "station_id": (int(rng.randint(1, 1000)) if rng.rand() < 0.05 else None),
                "lcz_outline_id": (int(rng.randint(1, 100)) if rng.rand() < 0.05 else None),
                "skeleton": None,
            }
        )
    return pd.DataFrame(rows)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """The fixture cache's layout: microsecond timestamps and 4,096-row
    groups, so one file still splits across scan tasks. Atomic rename."""
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), tmp,
        coerce_timestamps="us", allow_truncated_timestamps=True, row_group_size=4096,
    )
    os.replace(tmp, path)
