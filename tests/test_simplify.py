"""RDP polygon simplification (functions/simplify.py)."""

import numpy as np
import pytest

from osm_data_3d_tiles_spark.functions.simplify import (
    densify_ring,
    rdp_open,
    rdp_ring,
    simplify_buildings,
)


def _chain_dist(p, chain):
    """Distance of point p to a polyline chain."""
    best = np.inf
    for a, b in zip(chain[:-1], chain[1:]):
        ab = b - a
        denom = float(ab @ ab)
        t = 0.0 if denom == 0 else np.clip(((p - a) @ ab) / denom, 0.0, 1.0)
        best = min(best, float(np.hypot(*(p - (a + t * ab)))))
    return best


def _rect(w, h):
    return np.array([[0, 0], [w, 0], [w, h], [0, h], [0, 0]], dtype=float)


class TestKernel:
    def test_collinear_collapse(self):
        pts = np.array([[0, 0], [1, 0], [2, 0], [3, 0]], dtype=float)
        keep = rdp_open(pts, 0.01)
        assert keep.tolist() == [True, False, False, True]

    def test_keeps_big_deviation(self):
        pts = np.array([[0, 0], [1, 5], [2, 0]], dtype=float)
        assert rdp_open(pts, 1.0).all()

    def test_ring_requires_closed(self):
        with pytest.raises(ValueError, match="closed"):
            rdp_ring(np.array([[0, 0], [1, 0], [1, 1]], dtype=float), 0.1)

    def test_ring_recovers_rect_from_densified(self):
        r = _rect(10, 6)
        noisy = densify_ring(r, n_sub=4, amp=0.1)
        out = rdp_ring(noisy, eps=0.5)
        # closed, vertices subset of input, all 4 corners survive
        assert np.array_equal(out[0], out[-1])
        in_set = {tuple(p) for p in noisy}
        assert all(tuple(p) in in_set for p in out)
        corners = {tuple(p) for p in r[:-1]}
        assert corners <= {tuple(p) for p in out[:-1]}
        # at most one extra vertex (the wrap-pivot can pin one noise point)
        assert len(out) <= len(r) + 1

    def test_error_bound_random_rings(self):
        rng = np.random.RandomState(7)
        for _ in range(20):
            n = rng.randint(6, 30)
            ang = np.sort(rng.rand(n) * 2 * np.pi)
            rad = 1.0 + 4.0 * rng.rand(n)
            body = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
            ring = np.vstack([body, body[:1]])
            eps = 0.3
            out = rdp_ring(ring, eps)
            # every dropped original vertex lies within eps of the output chain
            kept = {tuple(p) for p in out}
            for p in body:
                if tuple(p) not in kept:
                    assert _chain_dist(p, out) <= eps + 1e-9

    def test_eps_zero_keeps_all_noncollinear(self):
        r = _rect(5, 5)
        assert len(rdp_ring(r, 0.0)) == len(r)

    def test_degenerate_all_equal(self):
        r = np.zeros((5, 2))
        assert np.array_equal(rdp_ring(r, 0.1), r)

class TestSimplifyBuildings:
    def test_fixture_rings_simplify(self, spark):
        from osm_data_3d_tiles_spark.sources import fixtures as fx

        blds = fx.load_fixture(spark, "buildings", 0.001).filter("layer = 'buildings'")
        out = simplify_buildings(blds, eps=0.5, densify=(3, 0.2)).toPandas()
        n_rings = blds.selectExpr("explode(geometry)").count()
        assert len(out) == n_rings
        assert (out.n_after <= out.n_before).all()
        # densify triples interior vertices; RDP must strip (almost) all
        assert (out.n_after <= out.n_before / 2).all()
        # every simplified ring is closed with >= 4 points
        assert out.ring.map(lambda r: list(r[0]) == list(r[-1]) and len(r) >= 4).all()

    def test_bad_eps(self, spark):
        from osm_data_3d_tiles_spark.sources import fixtures as fx

        blds = fx.load_fixture(spark, "buildings", 0.001)
        with pytest.raises(ValueError, match="eps"):
            simplify_buildings(blds, eps=-1.0)
