"""Raster tile assembly: numpy kernels (kernels/raster.py) and the
Spark operators (operators/raster.py), including the vector -> raster ->
vector round trip the north star's "raster<->vector tile assembly"
calls for."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.kernels import geom as G
from tilemaker_spark.kernels import png as PNG
from tilemaker_spark.kernels import raster as R


def _mp_area(polys):
    return sum(
        abs(G.signed_ring_area_planar(p[0]))
        - sum(abs(G.signed_ring_area_planar(h)) for h in p[1:])
        for p in polys)


class TestKernels:
    def test_fill_rectangle_exact(self):
        canvas = np.zeros((100, 100, 3), np.uint8)
        rect = np.array([[10, 20], [50, 20], [50, 50], [10, 50], [10, 20]],
                        float)
        R.fill_polygon(canvas, [[rect]], np.array([255, 0, 0], np.uint8))
        assert (canvas[:, :, 0] == 255).sum() == 40 * 30

    def test_fill_hole_subtracts(self):
        canvas = np.zeros((100, 100, 3), np.uint8)
        rect = np.array([[10, 20], [50, 20], [50, 50], [10, 50], [10, 20]],
                        float)
        hole = np.array([[20, 30], [40, 30], [40, 40], [20, 40], [20, 30]],
                        float)
        R.fill_polygon(canvas, [[rect, hole]],
                       np.array([255, 0, 0], np.uint8))
        assert (canvas[:, :, 0] == 255).sum() == 1200 - 200

    def test_fill_clamps_outside_canvas(self):
        canvas = np.zeros((50, 50, 3), np.uint8)
        big = np.array([[-100, -100], [200, -100], [200, 200],
                        [-100, 200], [-100, -100]], float)
        R.fill_polygon(canvas, [[big]], np.array([9, 9, 9], np.uint8))
        assert (canvas == 9).all()

    def test_stroke_diagonal_no_gaps(self):
        canvas = np.zeros((100, 100, 3), np.uint8)
        R.stroke_line(canvas, np.array([[0, 0], [99, 99]], float),
                      np.array([0, 255, 0], np.uint8))
        on = canvas[:, :, 1] == 255
        # every row along the diagonal has a pixel
        assert on.any(axis=1).sum() == 100

    def test_trace_round_trip_pixel_exact(self):
        canvas = np.zeros((100, 100, 3), np.uint8)
        rect = np.array([[10, 20], [50, 20], [50, 50], [10, 50], [10, 20]],
                        float)
        hole = np.array([[20, 30], [40, 30], [40, 40], [20, 40], [20, 30]],
                        float)
        R.fill_polygon(canvas, [[rect, hole]],
                       np.array([255, 0, 0], np.uint8))
        mask = canvas[:, :, 0] == 255
        polys = R.rings_to_multipolygon(R.trace_mask(mask))
        assert len(polys) == 1 and len(polys[0]) == 2
        assert _mp_area(polys) == 1000.0
        refill = np.zeros((100, 100, 3), np.uint8)
        R.fill_polygon(refill, polys, np.array([255, 0, 0], np.uint8))
        assert ((refill[:, :, 0] == 255) == mask).all()

    def test_trace_diagonal_touch_two_rings(self):
        m = np.zeros((4, 4), bool)
        m[0, 0] = m[1, 1] = True
        rings = R.trace_mask(m)
        assert len(rings) == 2
        assert _mp_area(R.rings_to_multipolygon(rings)) == 2.0

    def test_trace_random_masks_area_preserved(self):
        rng = np.random.default_rng(7)
        for _ in range(10):
            m = rng.random((40, 40)) < 0.35
            polys = R.rings_to_multipolygon(R.trace_mask(m))
            assert _mp_area(polys) == pytest.approx(float(m.sum()))

    def test_fill_area_matches_shoelace(self):
        # scanline fill of random convex polygons covers |shoelace area|
        # +- perimeter pixels (boundary discretization)
        rng = np.random.default_rng(11)
        for _ in range(15):
            ang = np.sort(rng.uniform(0, 2 * np.pi, rng.integers(3, 9)))
            r = rng.uniform(5, 45)
            cx, cy = rng.uniform(50, 78, 2)
            ring = np.column_stack([cx + r * np.cos(ang),
                                    cy + r * np.sin(ang)])
            ring = np.vstack([ring, ring[:1]])
            canvas = np.zeros((128, 128, 3), np.uint8)
            R.fill_polygon(canvas, [[ring]], np.array([1, 1, 1], np.uint8))
            filled = int((canvas[:, :, 0] == 1).sum())
            area = abs(G.signed_ring_area_planar(ring))
            perim = np.sum(np.hypot(*(np.diff(ring, axis=0).T)))
            assert abs(filled - area) <= perim + 4, (filled, area, perim)

    def test_render_deterministic(self):
        rows = [("water", 3,
                 [[np.array([[5, 5], [60, 5], [60, 60], [5, 60], [5, 5]],
                            float)]]),
                ("roads", 1, [np.array([[0, 32], [63, 32]], float)]),
                ("poi", 0, np.array([[32.0, 10.0]]))]
        a = R.render_features(list(rows), size=64)
        b = R.render_features(list(rows), size=64)
        assert (a == b).all()
        # roads drawn on top of the water polygon
        assert (a[32, 30] == R.layer_color("roads")).all()


class TestOperators:
    @pytest.fixture(scope="class")
    def box_features(self, spark):
        # one polygon covering the exact lon/lat box of z2 tile (1, 1)
        # (x in [-90, 0], latp in [0, 90])
        from tilemaker_spark.kernels import proj as P
        lat0 = float(P.latp2lat(0.0))
        lat1 = float(P.latp2lat(90.0))
        coords = [-90.0, lat0, 0.0, lat0, 0.0, lat1, -90.0, lat1,
                  -90.0, lat0]
        return spark.createDataFrame(
            [(1, "water", 3, 0, 0, {}, coords, [5], [1])],
            "feature_id long, layer string, kind tinyint, minzoom int, "
            "zorder long, attrs map<string,string>, coords array<double>, "
            "ring_sizes array<int>, poly_ring_counts array<int>")

    def test_render_full_tile(self, spark, box_features):
        from tilemaker_spark.operators import raster as RO
        tiles = {(r["x"], r["y"]): bytes(r["png"])
                 for r in RO.render_raster_tiles(
                     box_features, zoom=2, size=64).collect()}
        assert (1, 1) in tiles
        px = PNG.decode_png(tiles[(1, 1)])
        frac = (px.any(axis=2)).mean()
        assert frac > 0.99  # the box covers tile (1,1) wall to wall

    def test_render_partial_tile_area_fraction(self, spark):
        from tilemaker_spark.kernels import proj as P
        from tilemaker_spark.operators import raster as RO
        # half of z2 tile (1, 1): lon in [-90, -45]
        lat0, lat1 = float(P.latp2lat(0.0)), float(P.latp2lat(90.0))
        coords = [-90.0, lat0, -45.0, lat0, -45.0, lat1, -90.0, lat1,
                  -90.0, lat0]
        df = spark.createDataFrame(
            [(1, "water", 3, 0, 0, {}, coords, [5], [1])],
            "feature_id long, layer string, kind tinyint, minzoom int, "
            "zorder long, attrs map<string,string>, coords array<double>, "
            "ring_sizes array<int>, poly_ring_counts array<int>")
        rows = RO.render_raster_tiles(df, zoom=2, size=64).collect()
        px = {(r["x"], r["y"]): PNG.decode_png(bytes(r["png"]))
              for r in rows}
        assert px[(1, 1)].any(axis=2).mean() == pytest.approx(0.5,
                                                              abs=0.03)

    def test_render_multilinestring_matches_its_parts(self, spark):
        """A MultiLineString renders as its parts drawn as LineStrings of
        the same layer: strokes, not vertex dots."""
        from tilemaker_spark.operators import raster as RO
        a = [-80.0, 10.0, -10.0, 50.0]
        b = [-80.0, 50.0, -40.0, 30.0, -10.0, 10.0]
        schema = ("feature_id long, layer string, kind tinyint, "
                  "minzoom int, zorder long, attrs map<string,string>, "
                  "coords array<double>, ring_sizes array<int>, "
                  "poly_ring_counts array<int>")
        multi = spark.createDataFrame(
            [(1, "roads", G.MULTILINESTRING, 0, 0, {}, a + b, [2, 3], [])],
            schema)
        parts = spark.createDataFrame(
            [(1, "roads", G.LINESTRING, 0, 0, {}, a, [2], []),
             (2, "roads", G.LINESTRING, 0, 0, {}, b, [3], [])], schema)

        def pixels(df):
            return {(r["x"], r["y"]): PNG.decode_png(bytes(r["png"]))
                    for r in RO.render_raster_tiles(
                        df, zoom=2, size=64).collect()}

        got, want = pixels(multi), pixels(parts)
        assert set(got) == set(want) and (1, 1) in got
        for key in want:
            assert (got[key] == want[key]).all()

    def test_raster_vector_round_trip(self, spark, box_features):
        from tilemaker_spark.operators import raster as RO
        tiles = RO.render_raster_tiles(box_features, zoom=2, size=64)
        traced = RO.raster_to_features(tiles).collect()
        row = [r for r in traced if (r["x"], r["y"]) == (1, 1)][0]
        mp = G.unpack_multipolygon(
            np.asarray(row["coords"], np.float64),
            np.asarray(row["ring_sizes"], np.int64),
            np.asarray(row["poly_ring_counts"], np.int64))
        # traced polygon spans the tile's lon range
        lons = mp[0][0][:, 0]
        assert lons.min() == pytest.approx(-90.0, abs=2.0)
        assert lons.max() == pytest.approx(0.0, abs=2.0)

    def test_mbtiles_png_round_trip(self, spark, box_features, tmp_path):
        from tilemaker_spark.operators import raster as RO
        from tilemaker_spark.sinks import mbtiles as MB
        tiles = RO.render_raster_tiles(box_features, zoom=2, size=64)
        path = str(tmp_path / "raster.mbtiles")
        n = MB.write_mbtiles(tiles.withColumnRenamed("png", "tile"), path,
                             metadata={"format": "png"})
        assert n >= 1
        blob = MB.read_mbtiles_tile(path, 2, 1, 1)
        assert blob is not None and blob[:8] == b"\x89PNG\r\n\x1a\n"
