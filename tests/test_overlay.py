"""Polygon boolean overlay kernel tests (union / intersection) —
reference semantics: union_many (reference src/geom.cpp:232-290),
repair chain (src/geom.cpp:140-224), which tiling's ``_repair`` runs as
an even-odd intersection with the tile box.
"""

import numpy as np
import pytest

from tilemaker_spark.kernels import overlay as O


def sq(x0, y0, x1, y1):
    return [[np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                      float)]]


def test_union_adjacent_dissolves_shared_edge():
    u = O.union_many([sq(0, 0, 1, 1), sq(1, 0, 2, 1)])
    assert len(u) == 1
    assert O.area_planar(u) == pytest.approx(2.0, abs=1e-4)
    # shared edge gone: merged outer has 4 corners (plus closing point)
    outer = u[0][0]
    assert len(np.unique(np.round(outer[:-1], 3), axis=0)) <= 6


def test_union_overlapping():
    u = O.union_many([sq(0, 0, 1, 1), sq(0.5, 0.5, 1.5, 1.5)])
    assert len(u) == 1
    assert O.area_planar(u) == pytest.approx(1.75, abs=1e-4)


def test_union_disjoint_and_identical():
    u = O.union_many([sq(0, 0, 1, 1), sq(3, 3, 4, 4)])
    assert len(u) == 2
    assert O.area_planar(u) == pytest.approx(2.0, abs=1e-4)
    u = O.union_many([sq(0, 0, 1, 1), sq(0, 0, 1, 1)])
    assert len(u) == 1
    assert O.area_planar(u) == pytest.approx(1.0, abs=1e-4)


def test_union_creates_hole():
    # four rectangles forming a frame around an empty middle
    u = O.union_many([sq(0, 0, 3, 1), sq(0, 2, 3, 3),
                      sq(0, 1, 1, 2), sq(2, 1, 3, 2)])
    assert len(u) == 1
    assert sum(len(p) - 1 for p in u) == 1  # one hole
    assert O.area_planar(u) == pytest.approx(8.0, abs=1e-4)


def test_union_fills_hole():
    hp = [[np.array([[0, 0], [3, 0], [3, 3], [0, 3], [0, 0]], float),
           np.array([[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]], float)]]
    u = O.union_many([hp, sq(1, 1, 2, 2)])
    assert len(u) == 1 and sum(len(p) - 1 for p in u) == 0
    assert O.area_planar(u) == pytest.approx(9.0, abs=1e-4)
    # and the hole survives when the other input is far away
    u2 = O.union_many([hp, sq(10, 10, 11, 11)])
    assert len(u2) == 2 and sum(len(p) - 1 for p in u2) == 1
    assert O.area_planar(u2) == pytest.approx(9.0, abs=1e-3)


def test_union_grid_of_cells():
    cells = [sq(i, j, i + 1, j + 1) for i in range(4) for j in range(4)]
    u = O.union_many(cells)
    assert len(u) == 1 and sum(len(p) - 1 for p in u) == 0
    assert O.area_planar(u) == pytest.approx(16.0, abs=1e-3)


def test_union_tangent_corner_stays_two_faces():
    u = O.union_many([sq(0, 0, 1, 1), sq(1, 1, 2, 2)])
    assert len(u) == 2
    assert O.area_planar(u) == pytest.approx(2.0, abs=1e-4)


def test_intersection_overlap_and_disjoint():
    i = O.intersection(sq(0, 0, 1, 1), sq(0.5, 0.5, 1.5, 1.5))
    assert O.area_planar(i) == pytest.approx(0.25, abs=1e-4)
    assert O.intersection(sq(0, 0, 1, 1), sq(5, 5, 6, 6)) == []


def test_box_intersection_repairs_bowtie():
    bow = [[np.array([[0, 0], [1, 1], [1, 0], [0, 1], [0, 0]], float)]]
    v = O.intersection(bow, sq(-1, -1, 2, 2))
    assert len(v) == 2  # two triangles
    assert O.area_planar(v) == pytest.approx(0.5, abs=1e-3)
    from tilemaker_spark.kernels import geom as G
    assert G.ring_self_intersects(bow[0][0])
    assert G.multipolygon_is_simple(v)


def test_box_intersection_resolves_wrong_winding_hole():
    # hole wound the same way as the outer: even-odd still resolves it
    mp = [[np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float),
           np.array([[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]], float)]]
    v = O.intersection(mp, sq(-1, -1, 5, 5))
    assert O.area_planar(v) == pytest.approx(12.0, abs=1e-3)
    assert sum(len(p) - 1 for p in v) == 1


def test_ring_self_intersects_detects():
    from tilemaker_spark.kernels import geom as G
    simple = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)
    assert not G.ring_self_intersects(simple)
    bow = np.array([[0, 0], [1, 1], [1, 0], [0, 1], [0, 0]], float)
    assert G.ring_self_intersects(bow)


def _grid_area(mps, x0, x1, y0, y1, n=400):
    """Ground-truth union area via dense point sampling (even-odd PIP per
    input, coverage>0), good to ~(span/n) * perimeter."""
    xs = np.linspace(x0, x1, n)
    ys = np.linspace(y0, y1, n)
    gx, gy = np.meshgrid(xs, ys)
    px, py = gx.ravel(), gy.ravel()
    from tilemaker_spark.kernels import geom as G
    cov = np.zeros(len(px), bool)
    for mp in mps:
        for poly in mp:
            inside = G.points_in_polygon(px, py, poly)
            cov |= inside
    cell = (xs[1] - xs[0]) * (ys[1] - ys[0])
    return cov.sum() * cell


def test_union_random_rectangles_property():
    """Property: union area of random axis-aligned rectangles matches a
    dense rasterized ground truth within sampling tolerance (catches
    stitching / hole-assignment bugs on arbitrary overlap patterns)."""
    rng = np.random.RandomState(1234)
    for trial in range(8):
        k = rng.randint(2, 9)
        mps = []
        for _ in range(k):
            x0, y0 = rng.uniform(0, 8, 2)
            w, h = rng.uniform(0.5, 4, 2)
            mps.append(sq(x0, y0, x0 + w, y0 + h))
        u = O.union_many(mps)
        got = O.area_planar(u)
        want = _grid_area(mps, -1, 13, -1, 13, n=500)
        assert got == pytest.approx(want, abs=0.028 * 14 * 2 * k + 0.05), \
            f"trial {trial}: got {got} want {want}"


def test_union_random_triangles_property():
    rng = np.random.RandomState(99)
    for trial in range(6):
        k = rng.randint(2, 6)
        mps = []
        for _ in range(k):
            pts = rng.uniform(0, 10, (3, 2))
            ring = np.vstack([pts, pts[:1]])
            mps.append([[ring]])
        u = O.union_many(mps)
        got = O.area_planar(u)
        want = _grid_area(mps, -1, 11, -1, 11, n=500)
        assert got == pytest.approx(want, abs=0.024 * 12 * 3 * k + 0.05), \
            f"trial {trial}: got {got} want {want}"
