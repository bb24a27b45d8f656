"""Deterministic synthetic fixtures (seed=42, no external data).

Schemas follow FIXTURES.md: a Common-Crawl-style `pages` table exactly matching the
BASELINE.json input hint (url, warc_ts, html binary, text, lang), and an OSM-style
`buildings` footprint table following the reference's BuildingProperties
(/root/reference/src/building/type.ts:29-71).

Everything is generated with numpy from a fixed seed and written once to a parquet
cache under the repo (.cache/fixtures/), so Spark jobs, the DuckDB-style goldens and
the bench harness all read identical bytes. Pages embed their geotag in the html as
`<meta name="geo.position" content="{lat};{lon}">`; the `text` column is by
construction the byte-identical output of functions.text.extract_text(html) — the
input-hint invariant.

Scale: `n_pages(sf) = int(sf * 2_000_000)`, `n_buildings(sf) = int(sf * 20_000)`,
inside a fixed 16×16-z16-tile extent (one z12 tile over Lyon, reference readme.md:39)
with a hot-spot cluster (~30% of pages in ~1% of the area) to exercise skew handling.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions import mercator as m

SEED = 42

# One z12 tile covering central Lyon: compute from the canonical extent center.
_cx = (m.LYON_EXTENT[0] + m.LYON_EXTENT[2]) / 2.0
_cy = (m.LYON_EXTENT[1] + m.LYON_EXTENT[3]) / 2.0
_tx12 = int((_cx + m.HALF_SIZE) // m.tile_span(12))
_ty12 = int((m.HALF_SIZE - _cy) // m.tile_span(12))
FIXTURE_EXTENT = m.tile_extent(12, _tx12, _ty12)  # exactly 16×16 z16 tiles
FIXTURE_Z12 = (_tx12, _ty12)

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


def cache_dir() -> str:
    d = os.environ.get(
        "SPARK_GRAFT_FIXTURE_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".cache", "fixtures"),
    )
    try:
        os.makedirs(d, exist_ok=True)
    except (OSError, NotADirectoryError):
        # package imported from a --py-files zip: the repo-relative path is
        # inside the archive — fall back to a per-user cache dir
        d = os.path.join(os.path.expanduser("~"), ".cache", "osm-3d-tiles-spark-fixtures")
        os.makedirs(d, exist_ok=True)
    return d


def n_pages(sf: float) -> int:
    return max(200, int(sf * 2_000_000))


def n_buildings(sf: float) -> int:
    return max(50, int(sf * 20_000))


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def make_pages(sf: float) -> pd.DataFrame:
    n = n_pages(sf)
    rng = np.random.RandomState(SEED)

    min_x, min_y, max_x, max_y = FIXTURE_EXTENT
    w, h = max_x - min_x, max_y - min_y

    # hot spot: 30% of pages inside a 10%×10% box (1% of the area) — dense-city skew
    hot = rng.rand(n) < 0.30
    x = np.where(
        hot,
        min_x + w * (0.45 + 0.10 * rng.rand(n)),
        min_x + w * rng.rand(n),
    )
    y = np.where(
        hot,
        min_y + h * (0.45 + 0.10 * rng.rand(n)),
        min_y + h * rng.rand(n),
    )
    lon, lat = m.merc_to_lonlat(x, y)
    # Serialize to 7 decimals; the parsed-back value is the page's authoritative
    # position (what the engine extracts is what every golden uses).
    lat_s = np.char.mod("%.7f", lat)
    lon_s = np.char.mod("%.7f", lon)

    has_geo = rng.rand(n) >= 0.02  # ~2% pages without a geotag
    langs = np.array(LANGS)[rng.randint(0, 4, size=n)]
    idx = np.arange(n)

    urls = [f"https://site{i % 997}.example/page/{i}" for i in idx]
    ts = [EPOCH + timedelta(seconds=int(i) * 37) for i in idx]

    words_cnt = rng.randint(5, 15, size=n)
    texts = []
    htmls = []
    for i in range(n):
        base = LANG_TEXT[langs[i]].split()
        k = words_cnt[i]
        start = int(idx[i]) % max(1, len(base) - k)
        body = " ".join(base[start : start + k]) + f" page {i}"
        # ~1% exact duplicates of the previous page's text (dedup fixture)
        if i > 0 and rng.rand() < 0.01:
            body = texts[i - 1]
        texts.append(body)
        meta = (
            f'<meta name="geo.position" content="{lat_s[i]};{lon_s[i]}">' if has_geo[i] else ""
        )
        htmls.append(
            f"<html><head>{meta}<title>p{i}</title></head>"
            f"<body><p>{body}</p></body></html>".encode("utf-8")
        )

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


# ---------------------------------------------------------------------------
# buildings
# ---------------------------------------------------------------------------


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


def make_buildings(sf: float) -> pd.DataFrame:
    n = n_buildings(sf)
    rng = np.random.RandomState(SEED + 1)
    min_x, min_y, max_x, max_y = FIXTURE_EXTENT
    w, h = max_x - min_x, max_y - min_y
    span16 = m.tile_span(16)

    rows = []
    for i in range(n):
        osm_id = 10_000_000 + i
        hot = rng.rand() < 0.25
        if hot:
            cx = min_x + w * (0.45 + 0.10 * rng.rand())
            cy = min_y + h * (0.45 + 0.10 * rng.rand())
        else:
            cx = min_x + w * (0.02 + 0.96 * rng.rand())
            cy = min_y + h * (0.02 + 0.96 * rng.rand())

        straddle = rng.rand() < 0.15
        if straddle:  # snap center onto a z16 tile edge → footprint spans 2+ tiles
            tx = np.floor((cx + m.HALF_SIZE) / span16)
            cx = -m.HALF_SIZE + tx * span16

        size = 5.0 + 35.0 * rng.rand()
        shape = rng.rand()
        rings: list[list[list[float]]] = []
        ring_types: list[str] = []
        if shape < 0.60:
            rings.append(_rect(cx, cy, size, size * (0.5 + rng.rand()), rng.rand() * np.pi).tolist())
            ring_types.append("outer")
        elif shape < 0.85:
            rings.append(_l_shape(cx, cy, size, size * (0.6 + 0.8 * rng.rand())).tolist())
            ring_types.append("outer")
        elif shape < 0.95:  # with hole
            outer = _rect(cx, cy, size, size, 0.0)
            hole = _rect(cx, cy, size * 0.4, size * 0.4, 0.0)[::-1]  # reversed winding
            rings.append(outer.tolist())
            ring_types.append("outer")
            rings.append(hole.tolist())
            ring_types.append("inner")
        else:  # multipolygon: two disjoint outers
            off = size * 1.5
            rings.append(_rect(cx - off, cy, size * 0.8, size * 0.8, 0.0).tolist())
            ring_types.append("outer")
            rings.append(_rect(cx + off, cy, size * 0.8, size * 0.8, 0.0).tolist())
            ring_types.append("outer")

        btype = BUILDING_TYPES[rng.randint(0, len(BUILDING_TYPES))]
        camel = rng.rand() < 0.10

        def opt(p, gen):
            return gen() if rng.rand() < p else None

        rows.append(
            {
                "osm_id": osm_id,
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
                # camelCase duplicates on ~10% of rows (§1.4(1) lookup-miss pin)
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


# ---------------------------------------------------------------------------
# raster + knn probes
# ---------------------------------------------------------------------------


def make_raster() -> pd.DataFrame:
    """One value per z16 cell of the fixture extent: deterministic integer function
    of the cell coordinate (exactly reproducible in any engine)."""
    min_tx, min_ty, max_tx, max_ty = m.tile_range_for_extent(FIXTURE_EXTENT, 16)
    xs, ys = np.meshgrid(
        np.arange(min_tx, max_tx + 1, dtype=np.int64),
        np.arange(min_ty, max_ty + 1, dtype=np.int64),
        indexing="ij",
    )
    xs, ys = xs.ravel(), ys.ravel()
    value = ((xs * 31 + ys * 17) % 1000).astype(np.float64)
    return pd.DataFrame({"cell_z": 16, "cell_x": xs, "cell_y": ys, "value": value})


def make_knn_queries() -> pd.DataFrame:
    rng = np.random.RandomState(SEED + 2)
    min_x, min_y, max_x, max_y = FIXTURE_EXTENT
    # include probes just outside the extent to force k-ring expansion
    x = min_x + (max_x - min_x) * (rng.rand(60) * 1.2 - 0.1)
    y = min_y + (max_y - min_y) * (rng.rand(60) * 1.2 - 0.1)
    k = np.array([1, 5, 10])[rng.randint(0, 3, size=60)]
    return pd.DataFrame({"query_id": np.arange(60, dtype=np.int64), "x": x, "y": y, "k": k})


# ---------------------------------------------------------------------------
# parquet cache
# ---------------------------------------------------------------------------

_GENERATORS = {
    "pages": make_pages,
    "buildings": make_buildings,
}


def fixture_path(name: str, sf: float) -> str:
    if name in ("raster", "knn_queries"):
        return os.path.join(cache_dir(), f"{name}.parquet")
    return os.path.join(cache_dir(), f"{name}-sf{sf}.parquet")


def ensure_fixture(name: str, sf: float = 0.001) -> str:
    """Generate-once parquet cache (atomic rename so concurrent executors are safe)."""
    path = fixture_path(name, sf)
    if os.path.exists(path):
        return path
    if name == "raster":
        df = make_raster()
    elif name == "knn_queries":
        df = make_knn_queries()
    else:
        df = _GENERATORS[name](sf)
    tmp = path + f".tmp{os.getpid()}"
    table = pa.Table.from_pandas(df, preserve_index=False)
    # Spark rejects TIMESTAMP(NANOS) parquet — write microsecond timestamps.
    # Small row groups keep the single fixture file SPLITTABLE: Spark assigns
    # file byte-ranges per task and a task only reads row groups whose midpoint
    # falls in its range — one giant row group would serialize every scan.
    pq.write_table(
        table, tmp, coerce_timestamps="us", allow_truncated_timestamps=True,
        row_group_size=4096,
    )
    os.replace(tmp, path)
    return path


def load_fixture(spark, name: str, sf: float = 0.001):
    return spark.read.parquet(ensure_fixture(name, sf))
