"""Ramer-Douglas-Peucker polygon simplification for LOD generation.

The reference thins detail per zoom by *dropping whole features*
(heat-map LOD thinning — see operators/lod.py, reference
src/lod/lod-mapper.ts semantics); a planet-scale tiler also needs the
per-geometry counterpart: coarser zoom levels carry the same building with
fewer vertices. RDP is the standard choice (deterministic, max-error
bounded: every dropped vertex lies within `eps` of the simplified chain).

Spark shape: vertex simplification is per-row work with no cross-row
dependency, so it runs as one `mapInPandas` Arrow stage — no shuffle at
all; partition-local, embarrassingly parallel at any scale. The kernel is
an iterative-stack numpy DP (no Python recursion-depth hazard on
pathological rings).

Ring handling: a closed ring has no natural DP endpoints, so we anchor at
vertex 0 and the vertex farthest from it, simplify the two open halves
independently, and rejoin — guaranteeing >= 3 distinct vertices and a
closed output ring. Ties in the farthest-point scan break to the lowest
index (numpy argmax), keeping results platform-deterministic.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _perp_dist_sq(pts: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared distance of each point to segment ab (vectorized)."""
    ab = b - a
    ap = pts - a
    denom = float(ab @ ab)
    if denom == 0.0:
        return (ap * ap).sum(axis=1)
    t = np.clip((ap @ ab) / denom, 0.0, 1.0)
    proj = a + t[:, None] * ab
    d = pts - proj
    return (d * d).sum(axis=1)


def rdp_open(pts: np.ndarray, eps: float) -> np.ndarray:
    """Simplify an open polyline; endpoints always kept. Returns a boolean
    keep-mask (same length as pts) — masks compose cheaply for rings."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    eps_sq = eps * eps
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[i + 1 : j]
        d = _perp_dist_sq(seg, pts[i], pts[j])
        k = int(np.argmax(d))
        if d[k] > eps_sq:
            mid = i + 1 + k
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    return keep


def rdp_ring(ring: np.ndarray, eps: float) -> np.ndarray:
    """Simplify a closed ring (first point == last point, (M, 2) float64).
    Output is closed, keeps >= 3 distinct vertices, vertices are a subset
    of the input in original order."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 2 or not np.array_equal(r[0], r[-1]):
        raise ValueError("rdp_ring expects a closed ring (first == last)")
    body = r[:-1]  # drop duplicate closing vertex
    m = len(body)
    if m <= 3:
        return r
    # anchor 2: farthest vertex from vertex 0 (lowest index on ties)
    d0 = ((body - body[0]) ** 2).sum(axis=1)
    pivot = int(np.argmax(d0))
    if pivot == 0:  # fully degenerate ring (all points equal)
        return r
    keep = np.zeros(m, dtype=bool)
    keep |= np.concatenate([rdp_open(body[: pivot + 1], eps), np.zeros(m - pivot - 1, bool)])
    second = np.concatenate([body[pivot:], body[:1]])  # wrap back to vertex 0
    k2 = rdp_open(second, eps)
    keep[pivot:] |= k2[:-1]
    out = body[keep]
    if len(out) < 3:  # collapsed below a triangle: keep anchors + farthest-from-chord
        chord = _perp_dist_sq(body, body[0], body[pivot])
        third = int(np.argmax(chord))
        keep[[0, pivot, third]] = True
        out = body[keep]
    return np.vstack([out, out[:1]])


SIMPLIFIED_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType()),
        T.StructField("ring_idx", T.IntegerType()),
        T.StructField("ring_type", T.StringType()),
        T.StructField("n_before", T.IntegerType()),
        T.StructField("n_after", T.IntegerType()),
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def simplify_buildings(
    buildings: DataFrame, eps: float, densify: tuple[int, float] | None = None
) -> DataFrame:
    """Per-ring RDP over the buildings table's `geometry`
    (array<array<array<double>>>) — one shuffle-free Arrow stage; column
    pruning keeps the scan to (osm_id, geometry, ring_types).

    `densify=(n_sub, amp)` over-nodes each ring first (same Arrow stage,
    see densify_ring) — the harness knob that gives RDP real work on
    fixtures whose polygons are already vertex-minimal."""
    if eps < 0:
        raise ValueError(f"eps must be >= 0, got {eps}")

    def _simplify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in SIMPLIFIED_SCHEMA}
            for osm_id, rings, rtypes in zip(
                pdf["osm_id"], pdf["geometry"], pdf["ring_types"]
            ):
                for i, (ring, rt) in enumerate(zip(rings, rtypes)):
                    r = np.asarray([np.asarray(p, dtype=np.float64) for p in ring])
                    if densify is not None:
                        r = densify_ring(r, *densify)
                    out = rdp_ring(r, eps)
                    rows["osm_id"].append(osm_id)
                    rows["ring_idx"].append(i)
                    rows["ring_type"].append(rt)
                    rows["n_before"].append(len(r))
                    rows["n_after"].append(len(out))
                    rows["ring"].append([list(p) for p in out])
            yield pd.DataFrame(rows)

    return buildings.select("osm_id", "geometry", "ring_types").mapInPandas(
        _simplify, schema=SIMPLIFIED_SCHEMA
    )


def densify_ring(ring: np.ndarray, n_sub: int = 3, amp: float = 0.0) -> np.ndarray:
    """Deterministically over-node a closed ring: insert `n_sub` interior
    vertices per edge, each displaced perpendicular to the edge by
    amp*sin(2.399963*k) (k = global running index — no RNG, reproducible
    anywhere). Models the redundant-vertex OSM ways RDP exists to clean;
    with amp < eps the original ring is recoverable."""
    r = np.asarray(ring, dtype=np.float64)
    out = []
    k = 0
    for i in range(len(r) - 1):
        a, b = r[i], r[i + 1]
        out.append(a)
        edge = b - a
        norm = np.hypot(*edge)
        if norm == 0.0:
            continue
        perp = np.array([-edge[1], edge[0]]) / norm
        for j in range(1, n_sub + 1):
            t = j / (n_sub + 1)
            k += 1
            out.append(a + t * edge + amp * np.sin(2.399963 * k) * perp)
    out.append(r[-1])
    return np.asarray(out)
