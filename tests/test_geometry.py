"""Golden tests for the pure numpy geometry kernels (SURVEY.md §5.2)."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_data_3d_tiles_spark.functions import geometry as g

SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])  # CCW closed
SQUARE_CW = SQUARE[::-1].copy()
TRIANGLE = np.array([[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]])
L_SHAPE = np.array([[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3]], dtype=float)


class TestWinding:
    def test_signed_area_ccw_square(self):
        # sum((x2-x1)(y2+y1)): CCW square of side 4 → -32 (negative = CCW here)
        assert g.signed_area(SQUARE) == -32.0
        assert g.signed_area(SQUARE_CW) == 32.0

    def test_ensure_clockwise_reverses_positive_area(self):
        out = g.ensure_clockwise(SQUARE_CW)
        assert g.signed_area(out) < 0
        same = g.ensure_clockwise(SQUARE)
        assert np.array_equal(same, SQUARE)

    def test_ensure_counter_clockwise(self):
        out = g.ensure_counter_clockwise(SQUARE)
        assert g.signed_area(out) > 0


class TestAreaCentroid:
    def test_polygon_area(self):
        assert g.polygon_area_signed(SQUARE[:-1]) == 16.0
        assert g.polygon_area_signed(TRIANGLE) == 2.0
        assert g.polygon_area_signed(L_SHAPE) == 5.0

    def test_centroid_square(self):
        cx, cy = g.polygon_centroid(SQUARE[:-1])
        assert (cx, cy) == pytest.approx((2.0, 2.0))

    def test_centroid_translation_stable(self):
        big = SQUARE[:-1] + 1e7
        cx, cy = g.polygon_centroid(big)
        assert (cx, cy) == pytest.approx((1e7 + 2.0, 1e7 + 2.0), abs=1e-6)


class TestPointInPolygon:
    def test_truth_table_square(self):
        pts = np.array(
            [[2.0, 2.0], [5.0, 2.0], [-1.0, 2.0], [2.0, 5.0], [3.999, 3.999], [0.001, 0.001]]
        )
        res = g.points_in_ring(pts, SQUARE)
        assert list(res) == [True, False, False, False, True, True]

    def test_concave(self):
        pts = np.array([[0.5, 0.5], [2.0, 2.0], [0.5, 2.5], [2.0, 0.5]])
        res = g.points_in_ring(pts, L_SHAPE)
        assert list(res) == [True, False, True, True]

    def test_polygon_with_hole(self):
        hole = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]])
        pts = np.array([[0.5, 0.5], [2.0, 2.0], [3.5, 3.5]])
        res = g.points_in_polygon(pts, [SQUARE, hole])
        assert list(res) == [True, False, True]

    @settings(max_examples=50, deadline=None)
    @given(st.integers(0, 7), st.floats(-1, 5), st.floats(-1, 5))
    def test_rotation_invariance(self, rot, px, py):
        """PIP result is invariant under polygon vertex rotation (same ring)."""
        ring = L_SHAPE
        rolled = np.roll(ring, rot, axis=0)
        p = np.array([[px, py]])
        # skip points exactly on edges (ray-cast boundary is unspecified)
        on_edge = any(
            abs((bx - ax) * (py - ay) - (by - ay) * (px - ax)) < 1e-9
            and min(ax, bx) - 1e-9 <= px <= max(ax, bx) + 1e-9
            and min(ay, by) - 1e-9 <= py <= max(ay, by) + 1e-9
            for (ax, ay), (bx, by) in zip(ring, np.roll(ring, -1, axis=0))
        )
        if on_edge:
            return
        assert g.points_in_ring(p, ring)[0] == g.points_in_ring(p, rolled)[0]


class TestEdgeTable:
    """The CSR edge-table kernel the PIP refine runs must give exactly the
    keep mask of `points_in_polygon`, building by building."""

    HOLE = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]])
    BUILDINGS = {
        11: [SQUARE, HOLE],  # outer ring + hole
        7: [TRIANGLE + 10.0, L_SHAPE + 20.0],  # multipolygon: two outer rings
        3: [L_SHAPE],  # concave, horizontal edges at y = 0, 1, 3
        5: [np.array([[0.0, 0.0], [2.0, 2.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])],  # open ring
    }

    @classmethod
    def _reference(cls, pts, ids):
        return np.array([
            bool(g.points_in_polygon(pts[k : k + 1], cls.BUILDINGS[i])[0]) if i in cls.BUILDINGS
            else False
            for k, i in enumerate(ids)
        ], dtype=bool)

    def _check(self, pts, ids):
        table = g.ring_edge_table(self.BUILDINGS.items())
        got = g.points_in_edge_table(pts[:, 0], pts[:, 1], ids, table)
        assert got.dtype == bool
        np.testing.assert_array_equal(got, self._reference(pts, ids))
        return got

    def test_table_layout(self):
        ids, offsets, edges = g.ring_edge_table(self.BUILDINGS.items())
        assert list(ids) == [3, 5, 7, 11]
        assert list(np.diff(offsets)) == [6, 5, 3 + 6, 5 + 5]
        # vertex i paired with vertex i-1, as points_in_ring's np.roll does
        k = offsets[list(ids).index(3)]
        np.testing.assert_array_equal(edges[k], [*L_SHAPE[0], *L_SHAPE[-1]])
        np.testing.assert_array_equal(edges[k + 1], [*L_SHAPE[1], *L_SHAPE[0]])

    def test_holes_and_multipolygons(self):
        pts = np.array([[0.5, 0.5], [2.0, 2.0], [3.5, 3.5], [10.5, 10.5], [20.5, 22.0],
                        [22.0, 22.0], [15.0, 15.0]])
        got = self._check(pts, np.array([11, 11, 11, 7, 7, 7, 7]))
        assert list(got) == [True, False, True, True, True, False, False]

    def test_point_at_vertex_y_and_on_horizontal_edges(self):
        ys = [0.0, 1.0, 2.0, 3.0, 4.0]  # every vertex y of every building
        xs = [-0.5, 0.0, 0.5, 1.0, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5]
        pts = np.array([[x, y] for x in xs for y in ys])
        for osm_id in (3, 5, 11):
            self._check(pts, np.full(len(pts), osm_id))

    def test_unknown_osm_id_is_outside(self):
        pts = np.array([[2.0, 0.5], [0.5, 0.5], [0.5, 0.5]])
        got = self._check(pts, np.array([1, 99, 11]))
        assert list(got) == [False, False, True]

    def test_empty_batch_and_empty_table(self):
        table = g.ring_edge_table(self.BUILDINGS.items())
        empty = np.empty(0)
        assert g.points_in_edge_table(empty, empty, empty.astype(np.int64), table).shape == (0,)
        none = g.ring_edge_table([])
        assert not g.points_in_edge_table(np.ones(2), np.ones(2), np.array([3, 11]), none).any()

    def test_random_batches_any_pass_size(self, monkeypatch):
        rng = np.random.default_rng(7)
        pts = rng.uniform(-1.0, 25.0, (4000, 2))
        pts[::5] = np.round(pts[::5])  # land on vertex and edge coordinates too
        ids = rng.choice([3, 5, 7, 11, 42], len(pts))
        whole = self._check(pts, ids)
        for pass_pairs in (1, 7, 1000):  # a pass ends mid-building
            monkeypatch.setattr(g, "EDGE_PAIRS_PER_PASS", pass_pairs)
            np.testing.assert_array_equal(self._check(pts, ids), whole)


class TestHullOMBB:
    def test_hull_square_with_interior(self):
        pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [2, 2], [1, 1]], dtype=float)
        hull = g.convex_hull(pts)
        assert len(hull) == 4
        assert set(map(tuple, hull)) == {(0, 0), (4, 0), (4, 4), (0, 4)}

    def test_hull_is_clockwise(self):
        # "CW" per the reference comment is in y-down screen coords, i.e. CCW in
        # math axes → positive shoelace. Pinned as a golden so the orientation the
        # rotating calipers consumes never silently flips.
        pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        hull = g.convex_hull(pts)
        x, y = hull[:, 0], hull[:, 1]
        area2 = np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
        assert area2 > 0
        assert tuple(hull[0]) == (4.0, 0.0)  # gift-wrap start/unshift order golden

    def test_ombb_axis_aligned_rect(self):
        pts = np.array([[0, 0], [10, 0], [10, 2], [0, 2]], dtype=float)
        box = g.compute_ombb(g.convex_hull(pts))
        area = g.polygon_area_signed(box)
        assert area == pytest.approx(20.0, rel=1e-6)

    def test_ombb_rotated_rect(self):
        # 45°-rotated 10×2 rectangle
        c, s = math.cos(math.pi / 4), math.sin(math.pi / 4)
        rect = np.array([[0, 0], [10, 0], [10, 2], [0, 2]], dtype=float)
        rot = rect @ np.array([[c, -s], [s, c]]).T
        box = g.compute_ombb(g.convex_hull(rot))
        assert g.polygon_area_signed(box) == pytest.approx(20.0, rel=1e-5)

    def test_ombb_contains_all_points(self):
        rng = np.random.RandomState(42)
        pts = rng.rand(20, 2) * 10
        box = g.compute_ombb(g.convex_hull(pts))
        closed = np.vstack([box, box[:1]])
        eps = 1e-7
        grown_center = closed.mean(axis=0)
        grown = grown_center + (closed - grown_center) * (1 + eps)
        assert g.points_in_ring(pts, grown).all()


class TestRaster:
    def test_dda_horizontal(self):
        assert g.tiles_intersecting_line(0.5, 0.5, 3.5, 0.5) == [(0, 0), (1, 0), (2, 0), (3, 0)]

    def test_dda_diagonal(self):
        cells = g.tiles_intersecting_line(0.5, 0.5, 2.5, 2.5)
        assert cells[0] == (0, 0) and cells[-1] == (2, 2)
        assert len(cells) == 5  # manhattan walk: 4 steps

    def test_dda_single_cell(self):
        assert g.tiles_intersecting_line(0.1, 0.1, 0.9, 0.9) == [(0, 0)]

    def test_triangle_fill(self):
        tri = np.array([[0.5, 0.5], [4.5, 0.5], [0.5, 4.5]])
        cells = set(g.tiles_under_triangle(tri, 1.0, 1.0))
        # triangle covers the lower-left half of a 5x5 block
        assert (0, 0) in cells and (4, 0) in cells and (0, 4) in cells
        assert (4, 4) not in cells
        # superset-of-vertices property
        for v in tri:
            assert (math.floor(v[0]), math.floor(v[1])) in cells

    def test_triangle_scale(self):
        tri = np.array([[5.0, 5.0], [45.0, 5.0], [5.0, 45.0]])
        cells_scaled = set(g.tiles_under_triangle(tri, 0.1, 0.1))
        cells_direct = set(g.tiles_under_triangle(tri * 0.1, 1.0, 1.0))
        assert cells_scaled == cells_direct

    def test_triangle_bounds_filter(self):
        tri = np.array([[0.5, 0.5], [4.5, 0.5], [0.5, 4.5]])
        cells = g.tiles_under_triangle(tri, 1.0, 1.0, 1, 1, 2, 2)
        assert all(1 <= x <= 2 and 1 <= y <= 2 for x, y in cells)


class TestTriangulate:
    def test_square(self):
        tris = g.triangulate(SQUARE)
        assert len(tris) == 2
        verts = g.polygon_vertices(SQUARE)
        total = sum(
            g.polygon_area_signed(np.array([verts[a], verts[b], verts[c]])) for a, b, c in tris
        )
        assert total == pytest.approx(16.0)

    def test_l_shape_area_conservation(self):
        tris = g.triangulate(L_SHAPE)
        verts = g.polygon_vertices(L_SHAPE)
        total = sum(
            g.polygon_area_signed(np.array([verts[a], verts[b], verts[c]])) for a, b, c in tris
        )
        assert total == pytest.approx(5.0)

    def test_with_hole(self):
        hole = np.array([[1.0, 1.0], [1.0, 3.0], [3.0, 3.0], [3.0, 1.0], [1.0, 1.0]])
        tris = g.triangulate(SQUARE, [hole])
        verts = g.polygon_vertices(SQUARE, [hole])
        total = sum(
            g.polygon_area_signed(np.array([verts[a], verts[b], verts[c]])) for a, b, c in tris
        )
        assert total == pytest.approx(12.0)  # 16 - 4

    def test_covered_cells_square(self):
        ring = SQUARE * 1.0 + 0.5  # [0.5, 4.5]
        cells = g.covered_cells([ring], ["outer"], 1.0)
        assert {(x, y) for x in range(5) for y in range(5)} == cells


class TestInteriorPoint:
    def test_square_center(self):
        x, y = g.interior_point([SQUARE])
        assert (x, y) == pytest.approx((2.0, 2.0))

    def test_u_shape_picks_widest_inside_segment(self):
        # U-shape: centerline crosses two arms; widest arm midpoint must be inside
        u = np.array(
            [[0, 0], [7, 0], [7, 4], [5, 4], [5, 1], [2, 1], [2, 4], [0, 4], [0, 0]],
            dtype=float,
        )
        x, y = g.interior_point([u])
        assert y == 2.0
        assert g.points_in_polygon(np.array([[x, y]]), [u])[0]


class TestSegments:
    def test_intersection(self):
        p = g.segment_intersection(
            np.array([0.0, 0.0]), np.array([4.0, 4.0]), np.array([0.0, 4.0]), np.array([4.0, 0.0])
        )
        assert p == pytest.approx([2.0, 2.0])

    def test_no_intersection(self):
        p = g.segment_intersection(
            np.array([0.0, 0.0]), np.array([1.0, 1.0]), np.array([3.0, 0.0]), np.array([4.0, 1.0])
        )
        assert p is None
