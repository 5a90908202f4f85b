"""Unit tests for the pure-numpy kernels against reference formulas
(/root/reference/src/coordinates.cpp, src/geom.cpp, include/output_object.h)."""

import numpy as np
import pytest

from tilemaker_spark.kernels import geom, proj
from tilemaker_spark.kernels import geom as G


class TestProjection:
    def test_lat2latp_roundtrip(self):
        lats = np.linspace(-85.0, 85.0, 101)
        assert np.allclose(proj.latp2lat(proj.lat2latp(lats)), lats, atol=1e-9)

    def test_lat2latp_known_values(self):
        # reference formula: rad2deg(log(tan(deg2rad(lat+90)/2)))
        assert proj.lat2latp(0.0) == pytest.approx(0.0, abs=1e-12)
        # deg(ln(tan(67.5 deg))) = 50.498987
        assert proj.lat2latp(45.0) == pytest.approx(50.498987, abs=1e-6)
        # clamp at +/-85.06 (src/coordinates.cpp:23)
        assert proj.lat2latp(89.0) == proj.lat2latp(85.06)

    def test_tile_xy(self):
        # Monaco center ~ (7.42, 43.73) at z14 -> x=8529/8530 range, y~5974
        x = proj.lon2tilex(7.42, 14)
        y = proj.lat2tiley(43.73, 14)
        assert x == 8529
        assert y == 5974
        # inverse edges
        assert proj.tilex2lon(0, 1) == -180.0
        assert proj.tilex2lon(2, 1) == 180.0

    def test_tile_id_roundtrip(self):
        for z in (0, 6, 14):
            n = 1 << z
            xs = np.asarray([0, n // 2, n - 1])
            ys = np.asarray([n - 1, 0, n // 2])
            tid = proj.tile_id(z, xs, ys)
            z2, x2, y2 = proj.tile_id_unpack(tid)
            assert (z2 == z).all() and (x2 == xs).all() and (y2 == ys).all()

    def test_zorder_encode(self):
        # include/output_object.h:54-62
        assert proj.zorder_encode(5.0) == 50
        assert proj.zorder_encode(-3.0) == -30
        assert proj.zorder_encode(2000.0) == 10100  # sqrt((2000-1000)*10)+10000
        assert proj.zorder_encode(-2000.0) == -10100
        assert proj.zorder_encode(np.inf) == 0

    def test_haversine(self):
        # one degree of longitude at the equator on R=6371000
        d = proj.haversine_m(0.0, 0.0, 1.0, 0.0)
        assert d == pytest.approx(6371000 * np.pi / 180, rel=1e-9)


class TestGeom:
    RING = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)

    def test_pip(self):
        px = np.array([0.5, 1.5, -0.1])
        py = np.array([0.5, 0.5, 0.5])
        assert geom.points_in_polygon(px, py, [self.RING]).tolist() == [
            True, False, False]

    def test_pip_with_hole(self):
        hole = np.array([[0.4, 0.4], [0.6, 0.4], [0.6, 0.6], [0.4, 0.6], [0.4, 0.4]])
        poly = [self.RING, hole]
        px = np.array([0.5, 0.2])
        py = np.array([0.5, 0.2])
        assert geom.points_in_polygon(px, py, poly).tolist() == [False, True]

    def test_clip_ring(self):
        c = geom.clip_ring_to_box(self.RING, 0.5, 0.5, 2.0, 2.0)
        assert len(c) == 5
        # a quarter of the unit box
        assert abs(geom.signed_ring_area_planar(c)) == pytest.approx(0.25)

    def test_clip_disjoint(self):
        assert len(geom.clip_ring_to_box(self.RING, 5, 5, 6, 6)) == 0

    def test_clip_line(self):
        parts = geom.clip_line_to_box(
            np.array([[-1, 0.5], [3, 0.5]], float), 0, 0, 1, 1)
        assert len(parts) == 1
        np.testing.assert_allclose(parts[0], [[0, 0.5], [1, 0.5]])

    def test_clip_line_two_parts(self):
        # zigzag leaves and re-enters the box
        line = np.array([[0.1, 0.5], [0.5, 1.5], [0.9, 0.5]], float)
        parts = geom.clip_line_to_box(line, 0, 0, 1, 1)
        assert len(parts) == 2

    def test_clip_segments_batch_matches_polyline(self):
        # the vectorized N-segment clip agrees with the per-polyline clip
        # applied to each 2-point segment, including axis-parallel and
        # fully-inside/outside segments
        rng = np.random.default_rng(42)
        a = rng.uniform(-2, 3, (200, 2))
        b = rng.uniform(-2, 3, (200, 2))
        a[:20, 0] = b[:20, 0]          # vertical segments (dx == 0)
        a[20:40, 1] = b[20:40, 1]      # horizontal segments (dy == 0)
        ok, pa, pb = geom.clip_segments_to_box(a, b, 0, 0, 1, 1)
        for i in range(len(a)):
            parts = geom.clip_line_to_box(
                np.array([a[i], b[i]]), 0, 0, 1, 1)
            assert bool(ok[i]) == (len(parts) == 1)
            if ok[i]:
                np.testing.assert_array_equal(parts[0][0], pa[i])
                np.testing.assert_array_equal(parts[0][-1], pb[i])

    def test_clip_line_chaining_matches_per_segment_rule(self):
        # the vectorized continuity mask re-chains exactly like the
        # per-segment np.allclose(previous end, next start) walk, on
        # random polylines whose vertices sit on box edges and corners
        # and repeat (zero-length segments)
        def per_segment(line, box):
            p = np.asarray(line, np.float64)
            ok, pas, pbs = geom.clip_segments_to_box(p[:-1], p[1:], *box)
            parts, cur = [], []
            for i in range(len(ok)):
                if not ok[i]:
                    if len(cur) >= 2:
                        parts.append(np.asarray(cur))
                    cur = []
                elif cur and np.allclose(cur[-1], pas[i]):
                    cur.append(pbs[i])
                else:
                    if len(cur) >= 2:
                        parts.append(np.asarray(cur))
                    cur = [pas[i], pbs[i]]
            if len(cur) >= 2:
                parts.append(np.asarray(cur))
            return parts

        rng = np.random.default_rng(7)
        box = (0.0, 0.0, 1.0, 1.0)
        snap = np.array([-0.5, 0.0, 0.5, 1.0, 1.5])
        for _ in range(400):
            n = int(rng.integers(2, 12))
            pts = rng.uniform(-0.6, 1.6, (n, 2))
            on = rng.random((n, 2)) < 0.5
            pts[on] = rng.choice(snap, on.sum())    # edges and corners
            rep = np.flatnonzero(rng.random(n - 1) < 0.2)
            pts[rep + 1] = pts[rep]                 # zero-length segments
            got = geom.clip_line_to_box(pts, *box)
            want = per_segment(pts, box)
            assert len(got) == len(want)
            for g, w in zip(got, want):
                np.testing.assert_array_equal(g, w)

    def test_douglas_peucker(self):
        line = np.array([[0, 0], [1, 0.001], [2, 0], [3, 1]], float)
        out = geom.douglas_peucker(line, 0.01)
        assert out.tolist() == [[0, 0], [2, 0], [3, 1]]
        # keeps everything below tolerance
        assert len(geom.douglas_peucker(line, 1e-9)) == 4

    def test_visvalingam(self):
        line = np.array([[0, 0], [1, 0.001], [2, 0], [3, 1]], float)
        out = geom.visvalingam(line, 0.01)
        assert out.tolist() == [[0, 0], [2, 0], [3, 1]]

    def test_simplify_ring_drop_rules(self):
        # perimeter < 3*tol drops the ring (src/geom.cpp topo-guard drop rule)
        tiny = np.array([[0, 0], [.001, 0], [.001, .001], [0, .001], [0, 0]])
        assert len(geom.simplify_ring(tiny, 1.0)) == 0

    def test_remove_spikes(self):
        spiky = np.array([[0, 0], [1, 0], [2, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
                         float)
        out = geom.remove_spikes(spiky)
        assert [2, 0] not in out.tolist()
        assert (out[0] == out[-1]).all()

    def test_covering_tiles_point(self):
        t = geom.covering_tiles_point(7.42, 43.73, 14)
        assert t.tolist() == [[8529, 5974]]

    def test_covering_tiles_line_contiguous(self):
        # supercover: every consecutive pair of cells is edge-adjacent
        line = np.array([[7.40, 43.70], [7.47, 43.76]])
        cells = geom.covering_tiles_line(line, 14)
        assert len(cells) >= 4

    def test_fill_covered_tiles(self):
        # per-column gap fill (src/coordinates.cpp:52-67)
        cells = np.array([[3, 1], [3, 5], [4, 2]], np.int64)
        filled = geom.fill_covered_tiles(cells)
        got = {tuple(c) for c in filled.tolist()}
        assert got == {(3, 1), (3, 2), (3, 3), (3, 4), (3, 5), (4, 2)}

    def test_covering_polygon_fills_interior(self):
        poly = [[np.array([[7.40, 43.70], [7.48, 43.70], [7.48, 43.78],
                           [7.40, 43.78], [7.40, 43.70]])]]
        cells = geom.covering_tiles_polygon(poly, 14)
        xs = cells[:, 0]
        ys = cells[:, 1]
        # bounding rectangle of tiles fully covered for a convex box
        nx = xs.max() - xs.min() + 1
        ny = ys.max() - ys.min() + 1
        assert len(cells) == nx * ny

    def test_supercover_vectorized_matches_scalar(self):
        # property check: the batched Amanatides-Woo walk produces the
        # same cell set as the scalar reference walk on generic (float,
        # non-lattice) inputs; exact-corner ties may legitimately differ
        # (the scalar's incremental t_max fuzzes exact ties).
        rng = np.random.RandomState(11)
        for _ in range(120):
            n = rng.randint(2, 10)
            line = np.column_stack([rng.uniform(-30, 30, n),
                                    rng.uniform(-30, 30, n)])
            z = int(rng.choice([6, 10, 14]))
            fx = geom.lon2tilexf(line[:, 0], z)
            fy = geom.lat2tileyf(line[:, 1], z)
            old = np.clip(np.unique(np.concatenate([
                geom._supercover_segment(fx[i], fy[i], fx[i + 1], fy[i + 1])
                for i in range(n - 1)]), axis=0),
                0, (np.int64(1) << z) - 1)
            new = geom.covering_tiles_line(line, z)
            assert np.array_equal(np.unique(old, axis=0),
                                  np.unique(new, axis=0))

    def test_pack_roundtrip(self):
        mp = [[self.RING, self.RING * 0.5 + 0.2], [self.RING + 3]]
        flat, rs, pc = geom.pack_multipolygon(mp)
        mp2 = geom.unpack_multipolygon(flat, rs, pc)
        assert len(mp2) == 2 and len(mp2[0]) == 2
        np.testing.assert_allclose(mp2[0][1], mp[0][1])

    def test_polylabel_square(self):
        x, y = geom.polylabel([self.RING])
        assert (x, y) == pytest.approx((0.5, 0.5), abs=0.02)

    def test_centroid(self):
        cx, cy = geom.ring_centroid(self.RING)
        assert (cx, cy) == pytest.approx((0.5, 0.5), abs=1e-12)


def test_simplify_buildings_removes_stub():
    """Rectilinear stub removal (reference src/simplify_buildings.cpp):
    a small notch on a rectangle edge vanishes, corners snap to right
    angles, and the overall footprint survives."""
    # 10x10 square with a 0.4-wide, 0.3-deep notch on the top edge
    ring = np.array([
        [0, 0], [10, 0], [10, 10],
        [5.4, 10], [5.4, 9.7], [5.0, 9.7], [5.0, 10],
        [0, 10], [0, 0],
    ], float)
    out = G.simplify_buildings([[ring]], max_distance=1.0)
    assert len(out) == 1
    simplified = out[0][0]
    # the notch (4 extra points) is gone -> plain rectangle (5 pts closed)
    assert len(simplified) == 5
    xs = sorted(set(np.round(simplified[:, 0], 6)))
    ys = sorted(set(np.round(simplified[:, 1], 6)))
    assert xs == [0.0, 10.0] and ys == [0.0, 10.0]


def test_simplify_buildings_keeps_big_detours():
    """Stubs larger than the distance filter survive."""
    ring = np.array([
        [0, 0], [10, 0], [10, 10],
        [7, 10], [7, 6], [3, 6], [3, 10],   # a big 4x4 recess
        [0, 10], [0, 0],
    ], float)
    out = G.simplify_buildings([[ring]], max_distance=1.0)
    assert len(out[0][0]) == len(ring)  # untouched


def test_simplify_buildings_collinear():
    """Collinear vertices are removed first (COLLINEAR_TOL band)."""
    ring = np.array([
        [0, 0], [5, 0.01], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    out = G.simplify_buildings([[ring]], max_distance=0.5)
    assert len(out[0][0]) == 5


def test_merge_lines_reverses_at_both_ends():
    """Lines chain end-to-start, reversed where needed, at either end of
    the chain (reference ReorderMultiLinestring, tile_worker.cpp:29-77)."""
    seed = np.array([[1, 0], [2, 0]], float)
    tail = np.array([[3, 0], [2, 0]], float)   # its end meets seed's end
    head = np.array([[1, 0], [0, 0]], float)   # its start meets seed's start
    lone = np.array([[9, 9], [8, 8]], float)
    out = G.merge_lines([seed, tail, lone, head])
    assert len(out) == 2
    assert out[0].tolist() == [[0, 0], [1, 0], [2, 0], [3, 0]]
    assert out[1].tolist() == lone.tolist()


def test_merge_lines_point_cap():
    """A chain stops growing once it holds 6000 points; the next line
    seeds a chain of its own."""
    xs = np.arange(7001, dtype=float)
    run = lambda a, b: np.column_stack([xs[a:b], np.zeros(b - a)])  # noqa: E731
    out = G.merge_lines([run(0, 3001), run(3000, 6001), run(6000, 7001)])
    assert [len(l) for l in out] == [6001, 1001]
    assert out[0][:, 0].tolist() == xs[:6001].tolist()


def test_merge_lines_runs_past_a_closed_ring():
    """Line merge stops only at the point cap, so a chain that closes
    keeps growing: a third line leaving the ring's start joins it."""
    a = np.array([[0, 0], [1, 0], [1, 1]], float)
    b = np.array([[1, 1], [0, 1], [0, 0]], float)
    spur = np.array([[0, 0], [-1, -1]], float)
    out = G.merge_lines([a, b, spur])
    assert len(out) == 1
    assert out[0].tolist() == [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0],
                               [-1, -1]]


def _reference_cover(kind, geom, z):
    """The cover rule written out per geometry, as a set of tiles: each
    part walked on its own, cells clamped to the grid, and a polygon's
    columns filled from their lowest to their highest tile."""
    m = (1 << z) - 1

    def clamp(v):
        return min(max(int(v), 0), m)

    def vertex(p):
        return (clamp(np.floor(proj.lon2tilexf(p[0], z))),
                clamp(np.floor(proj.lat2tileyf(p[1], z))))

    def walk(part):
        fx, fy = proj.lon2tilexf(part[:, 0], z), proj.lat2tileyf(part[:, 1], z)
        cells, _ = G._supercover_segments(fx[:-1], fy[:-1], fx[1:], fy[1:])
        return {(clamp(x), clamp(y)) for x, y in cells.tolist()}

    if kind == G.POINT:
        return {vertex(p) for p in geom}
    if kind in (G.LINESTRING, G.MULTILINESTRING):
        return set().union(*[walk(l) if len(l) > 1 else {vertex(l[0])}
                             for l in geom if len(l)])
    rings = [r for poly in geom for r in poly]
    cells = set().union(*[walk(r) for r in rings if len(r) > 1])
    if not cells:
        pts = [p for r in rings for p in r]
        return {vertex(pts[0])} if pts else set()
    cols = {}
    for x, y in cells:
        cols.setdefault(x, []).append(y)
    return {(x, y) for x, ys in cols.items()
            for y in range(min(ys), max(ys) + 1)}


def test_cover_batch_matches_per_geometry_cover():
    """Property (hypothesis): over mixed-kind batches at z0-16, each row
    of ``cover_batch`` (read from sliced Arrow list columns) equals the
    one-geometry ``covering_tiles``, and both equal the plain per-part
    rule above.  Inputs include boxes with edges on tile edges, lon
    +-180, lat +-85.0511 and beyond, zero-length segments, one-point
    lines, degenerate rings, holes and empty rows."""
    import pyarrow as pa
    from hypothesis import given, settings, strategies as st

    lons = [-180.0, 180.0, 0.0]
    lats = [-90.0, -85.06, -85.0511, 0.0, 85.0511, 85.06, 90.0]

    def vertex(data, z, anchor):
        if anchor is None:  # a small grid: anywhere on or off it
            n = 1 << z
            lon = data.draw(st.one_of(
                st.floats(-180, 180), st.sampled_from(lons),
                st.integers(0, n).map(lambda t: float(proj.tilex2lon(t, z)))))
            lat = data.draw(st.one_of(
                st.floats(-90, 90), st.sampled_from(lats),
                st.integers(0, n).map(lambda t: float(proj.tiley2lat(t, z)))))
            return lon, lat
        # near an anchor tile, on tile edges or between them
        off = st.one_of(st.integers(-2, 2), st.floats(-2, 2))
        return (float(proj.tilex2lon(anchor[0] + data.draw(off), z)),
                float(proj.tiley2lat(anchor[1] + data.draw(off), z)))

    def part(data, z, anchor, lo, hi):
        pts = [vertex(data, z, anchor)
               for _ in range(data.draw(st.integers(lo, hi)))]
        if data.draw(st.booleans()):  # a zero-length segment
            pts = pts[:1] + pts
        return np.array(pts, float).reshape(-1, 2)

    def box(data, z, anchor):
        (x0, y0), (x1, y1) = vertex(data, z, anchor), vertex(data, z, anchor)
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])

    def ring(data, z, anchor):
        shape = data.draw(st.sampled_from(["box", "vertex", "open", "closed"]))
        if shape == "box":
            return box(data, z, anchor)
        if shape == "vertex":  # a ring without an edge
            return np.array([vertex(data, z, anchor)])
        r = part(data, z, anchor, 1, 6)
        return np.vstack([r, r[:1]]) if shape == "closed" else r

    def row(data, z):
        kind = data.draw(st.sampled_from(
            [G.POINT, G.LINESTRING, G.MULTILINESTRING, G.POLYGON]))
        n = 1 << z
        anchor = None if z <= 6 else data.draw(st.tuples(
            st.integers(-1, n + 1), st.integers(-1, n + 1)))
        count = data.draw(st.integers(0, 3))  # 0: an empty row
        if kind == G.POINT:
            return kind, part(data, z, anchor, count, count)
        if kind != G.POLYGON:
            return kind, [part(data, z, anchor, 1, 5) for _ in range(count)]
        return kind, [[ring(data, z, anchor)
                       for _ in range(data.draw(st.integers(1, 3)))]
                      for _ in range(count)]

    def flat(kind, geom):
        if kind == G.POINT:
            return geom.reshape(-1), [len(geom)]
        parts = geom if kind != G.POLYGON else [r for p in geom for r in p]
        return (np.concatenate([np.zeros(0)] + [p.reshape(-1) for p in parts]),
                [len(p) for p in parts])

    @settings(max_examples=300, deadline=None)
    @given(data=st.data(), z=st.integers(0, 16))
    def check(data, z):
        rows = [row(data, z) for _ in range(data.draw(st.integers(1, 6)))]
        flats = [flat(k, g) for k, g in rows]
        batch = pa.RecordBatch.from_arrays([
            pa.array([G.POINT] + [k for k, _ in rows], pa.int8()),
            pa.array([[0.0, 0.0]] + [c.tolist() for c, _ in flats],
                     pa.list_(pa.float64())),
            pa.array([[1]] + [s for _, s in flats], pa.list_(pa.int32())),
        ], names=["kind", "coords", "ring_sizes"]).slice(1)
        r, x, y = G.cover_batch(np.asarray(batch.column("kind")),
                                *G.packed_flat(batch), z)
        assert np.all(np.diff(r) >= 0)
        for i, (kind, geom) in enumerate(rows):
            want = sorted(_reference_cover(kind, geom, z))
            assert G.covering_tiles(kind, geom, z).tolist() == \
                [list(c) for c in want]
            assert list(zip(x[r == i].tolist(), y[r == i].tolist())) == want

    check()


def test_fill_covered_tiles_per_row():
    """With owner rows, each (row, x) is its own column: a gap is filled
    only between two tiles of one row, and the order stays (row, x, y)."""
    rows = np.array([0, 0, 1, 1, 1])
    cells = np.array([[3, 1], [3, 4], [3, 6], [5, 0], [5, 2]], np.int64)
    r, c = G.fill_covered_tiles(cells, rows)
    assert r.tolist() == [0, 0, 0, 0, 1, 1, 1, 1]
    assert c.tolist() == [[3, 1], [3, 2], [3, 3], [3, 4], [3, 6], [5, 0],
                          [5, 1], [5, 2]]
