"""From-scratch hexagonal cell index (H3-style lattice, axial coordinates).

The north rule names an "H3/S2" cell encoding; functions/s2.py supplies the
hierarchical S2 curve, this module supplies the hexagonal lattice: a
pointy-top hex grid in the working plane (web-mercator meters), addressed
by axial coordinates (q, r). Hexagons are the index of choice for kNN-ish
neighborhood queries because all 6 neighbors are equidistant — a k-ring is
a true distance band, unlike the square grid's corner-stretched rings
(operators/knn.py documents the square-grid variant).

All math is public-knowledge hex-lattice geometry (cube coordinates and
cube-rounding as popularized by the Red Blob Games hexagonal-grids
article; the same lattice algebra underlies Uber's H3, minus H3's
icosahedral projection, which a flat tile-local frame doesn't need).

Determinism contract: the fractional axial transform uses only IEEE-754
correctly-rounded ops (*, -, /, sqrt) in a FIXED evaluation order, and
rounding is floor(x+0.5) — so a DuckDB SQL oracle evaluating the same
expression tree reproduces every cell assignment bit-for-bit
(hex_assign_sql below; same trick as the repo's fixed-point PageRank).

Spark surface: Arrow `pandas_udf` columns (numpy-vectorized, no per-row
Python) — the same shape as functions/s2.py. Ring/disk expansion is pure
integer column math, usable JVM-side for join fan-out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# axial id packing: 26-bit biased q | 26-bit biased r (|q|,|r| < 2^25)
_BIAS = 1 << 25
_SHIFT = 26
_MASK = (1 << _SHIFT) - 1


def axial_fractional(x: np.ndarray, y: np.ndarray, size: float):
    """Plane point -> fractional axial (q, r) for pointy-top hexes of
    circumradius `size`. Evaluation order is part of the cross-engine
    contract — mirror hex_assign_sql exactly when editing."""
    qf = (x * (np.sqrt(3.0) / 3.0) - y * (1.0 / 3.0)) / size
    rf = (y * (2.0 / 3.0)) / size
    return qf, rf


def cube_round(qf: np.ndarray, rf: np.ndarray):
    """Round fractional axial to the containing hex via cube rounding:
    round all three cube coords, then fix the one with the largest
    rounding error so q + r + s == 0 again."""
    sf = -qf - rf
    rq = np.floor(qf + 0.5)
    rr = np.floor(rf + 0.5)
    rs = np.floor(sf + 0.5)
    dq = np.abs(rq - qf)
    dr = np.abs(rr - rf)
    ds = np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    rq = np.where(fix_q, -rr - rs, rq)
    rr = np.where(fix_r, -rq - rs, rr)
    return rq.astype(np.int64), rr.astype(np.int64)


def hex_assign(x: np.ndarray, y: np.ndarray, size: float):
    """Point -> integer axial (q, r)."""
    return cube_round(*axial_fractional(np.asarray(x, np.float64), np.asarray(y, np.float64), size))


def hex_center(q: np.ndarray, r: np.ndarray, size: float):
    """Axial -> hex center point (inverse of hex_assign on centers)."""
    q = np.asarray(q, np.float64)
    r = np.asarray(r, np.float64)
    x = size * np.sqrt(3.0) * (q + r / 2.0)
    y = size * 1.5 * r
    return x, y


def pack_id(q: np.ndarray, r: np.ndarray) -> np.ndarray:
    q = np.asarray(q, np.int64)
    r = np.asarray(r, np.int64)
    if (np.abs(q) >= _BIAS).any() or (np.abs(r) >= _BIAS).any():
        raise ValueError("axial coordinate out of 25-bit range")
    return ((q + _BIAS) << _SHIFT) | (r + _BIAS)


def unpack_id(h: np.ndarray):
    h = np.asarray(h, np.int64)
    return (h >> _SHIFT) - _BIAS, (h & _MASK) - _BIAS


# the 6 axial neighbor directions, counter-clockwise from +q
_DIRS = np.array([(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)], np.int64)


def hex_ring(q: int, r: int, k: int) -> np.ndarray:
    """The 6k cells at exact hex distance k (k=0 -> the cell itself)."""
    if k == 0:
        return np.array([(q, r)], np.int64)
    out = []
    cq, cr = q + k * _DIRS[4][0], r + k * _DIRS[4][1]  # start k steps out
    for d in range(6):
        for _ in range(k):
            out.append((cq, cr))
            cq += _DIRS[d][0]
            cr += _DIRS[d][1]
    return np.array(out, np.int64)


def hex_disk(q: int, r: int, k: int) -> np.ndarray:
    """All 3k(k+1)+1 cells within hex distance k."""
    return np.concatenate([hex_ring(q, r, i) for i in range(k + 1)])


def hex_distance(q1, r1, q2, r2):
    """Hex (cube) distance between axial cells."""
    dq, dr = np.asarray(q1) - np.asarray(q2), np.asarray(r1) - np.asarray(r2)
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


def hex_id_col(x: Column, y: Column, size: float) -> Column:
    @pandas_udf(LongType())
    def _id(xs: pd.Series, ys: pd.Series) -> pd.Series:
        q, r = hex_assign(xs.to_numpy(), ys.to_numpy(), size)
        return pd.Series(pack_id(q, r))

    return _id(x, y)


def hex_cells_sql(points_sql: str, size: float) -> str:
    """DuckDB CTE chain assigning each point of `points_sql` (must yield
    doc_id, x, y) to its hex cell with the IDENTICAL sequence of IEEE ops
    as axial_fractional + cube_round. Yields (doc_id, hex_q, hex_r)."""
    s = repr(float(size))
    return f"""
    WITH pts AS ({points_sql}),
    frac AS (
        SELECT doc_id,
               (x * (sqrt(3.0)/3.0) - y * (1.0/3.0)) / {s} AS qf,
               (y * (2.0/3.0)) / {s} AS rf
        FROM pts
    ),
    cube AS (
        SELECT doc_id, qf, rf, -qf - rf AS sf,
               floor(qf + 0.5) AS rq, floor(rf + 0.5) AS rr,
               floor((-qf - rf) + 0.5) AS rs
        FROM frac
    ),
    diffs AS (
        SELECT *, abs(rq - qf) AS dq, abs(rr - rf) AS dr2, abs(rs - sf) AS ds2
        FROM cube
    ),
    fixed AS (
        SELECT doc_id,
               CASE WHEN dq > dr2 AND dq > ds2 THEN -rr - rs ELSE rq END AS q2,
               CASE WHEN NOT (dq > dr2 AND dq > ds2) AND dr2 > ds2
                    THEN -rq - rs ELSE rr END AS r2
        FROM diffs
    )
    SELECT doc_id, CAST(q2 AS BIGINT) AS hex_q, CAST(r2 AS BIGINT) AS hex_r
    FROM fixed
    """
