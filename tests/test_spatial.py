"""Spatial join + kNN tests: both execution paths must agree with each
other and with a numpy ground truth."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.kernels import geom as G
from tilemaker_spark.operators import knn, spatial_join
from tilemaker_spark.sources import synth


@pytest.fixture(scope="module")
def pts(spark):
    img = synth.images_df(spark, 500, with_bytes=False)
    return img.select("image_id", "lon", "lat").cache()


@pytest.fixture(scope="module")
def grid(spark):
    return synth.grid_polygons_df(spark, nx=18, ny=9).cache()


def _ground_truth_pip(pts_rows, grid_rows):
    out = set()
    for g in grid_rows:
        mp = G.unpack_multipolygon(
            np.asarray(g["coords"]), np.asarray(g["ring_sizes"]),
            np.asarray(g["poly_ring_counts"]))
        lon = np.asarray([p["lon"] for p in pts_rows])
        lat = np.asarray([p["lat"] for p in pts_rows])
        hit = G.points_in_multipolygon(lon, lat, mp)
        for i in np.nonzero(hit)[0]:
            out.add((pts_rows[int(i)]["image_id"], g["poly_id"]))
    return out


def test_pip_paths_agree_and_match_ground_truth(spark, pts, grid):
    b = spatial_join.pip_join_broadcast(pts, grid, poly_cols=("poly_id",))
    c = spatial_join.pip_join_cell(pts, grid, poly_cols=("poly_id",))
    sb = {(r["image_id"], r["poly_id"]) for r in b.collect()}
    sc = {(r["image_id"], r["poly_id"]) for r in c.collect()}
    assert sb == sc
    truth = _ground_truth_pip(pts.collect(), grid.collect())
    assert sb == truth


def test_pip_cell_with_salting(spark, pts, grid):
    c1 = spatial_join.pip_join_cell(pts, grid, poly_cols=("poly_id",))
    c2 = spatial_join.pip_join_cell(pts, grid, poly_cols=("poly_id",),
                                    n_salts=4)
    s1 = {(r["image_id"], r["poly_id"]) for r in c1.collect()}
    s2 = {(r["image_id"], r["poly_id"]) for r in c2.collect()}
    assert s1 == s2


def test_pip_left_join_marks_nonmatches(spark, grid):
    # a point outside every grid polygon (lat > 85 band edge)
    pts = spark.createDataFrame(
        [("in", 10.0, 10.0), ("out", 0.0, 89.9)],
        "image_id string, lon double, lat double")
    j = spatial_join.pip_join_broadcast(
        pts, grid, poly_cols=("poly_id",), how="left")
    rows = {r["image_id"]: r["poly_id"] for r in j.collect()}
    assert rows["in"] is not None
    assert rows["out"] is None


def test_pip_left_join_with_id_key_and_nan_column(spark, grid):
    # point_id_cols: anti-join runs on the compact id key, so a NaN float
    # payload column can't break matching (NaN != NaN under plain equality)
    pts = spark.createDataFrame(
        [("in", 10.0, 10.0, 1.5), ("out", 0.0, 89.9, float("nan"))],
        "image_id string, lon double, lat double, score double")
    j = spatial_join.pip_join_broadcast(
        pts, grid, poly_cols=("poly_id",), how="left",
        point_id_cols=("image_id",))
    rows = {r["image_id"]: r["poly_id"] for r in j.collect()}
    assert rows["in"] is not None
    assert rows["out"] is None
    assert j.count() == 2


def test_knn_cell_matches_bruteforce_on_cluster(spark):
    # dense cluster so the kth neighbor is well within one cell ring
    img = synth.images_df(spark, 400, with_bytes=False)
    clustered = img.filter(
        (F.col("lon") > -30) & (F.col("lon") < 30)
        & (F.col("lat") > -30) & (F.col("lat") < 30))
    q = clustered.limit(5).select(
        F.col("image_id").alias("query_id"), "lon", "lat")
    c = clustered.select(F.col("image_id").alias("cand_id"), "lon", "lat")
    a = knn.knn_join_broadcast(q, c, k=3)
    b = knn.knn_join_cell(q, c, k=3, cell_zoom=2)
    ra = {(r["query_id"], r["rank"], r["cand_id"]) for r in a.collect()}
    rb = {(r["query_id"], r["rank"], r["cand_id"]) for r in b.collect()}
    assert ra == rb


def test_knn_deterministic_tiebreak(spark):
    q = spark.createDataFrame([("q", 0.0, 0.0)],
                              "query_id string, lon double, lat double")
    # two candidates equidistant -> lower id wins rank 1
    c = spark.createDataFrame(
        [("a", 1.0, 0.0), ("b", -1.0, 0.0)],
        "cand_id string, lon double, lat double")
    out = knn.knn_join_broadcast(q, c, k=2).collect()
    by_rank = {r["rank"]: r["cand_id"] for r in out}
    assert by_rank == {1: "a", 2: "b"}


# ---------------------------------------------------------------------------
# non-point probes (reference Intersects/CoveredBy/AreaIntersecting,
# src/osm_lua_processing.cpp:409-502)
# ---------------------------------------------------------------------------

PROBE_SCHEMA = ("feature_id long, kind tinyint, coords array<double>, "
                "ring_sizes array<int>, poly_ring_counts array<int>")


def _box_poly_df(spark):
    # one 10x10 box [0,10]^2 with a hole [4,6]^2
    coords = [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0,
              4.0, 4.0, 4.0, 6.0, 6.0, 6.0, 6.0, 4.0, 4.0, 4.0]
    return spark.createDataFrame(
        [(1, coords, [5, 5], [2])],
        "poly_id long, coords array<double>, ring_sizes array<int>, "
        "poly_ring_counts array<int>")


def test_geom_join_line_intersects(spark):
    from tilemaker_spark.operators.spatial_join import geom_join
    probes = spark.createDataFrame([
        (1, 1, [-5.0, 5.0, 5.0, 5.0], [2], []),    # crosses left edge
        (2, 1, [1.0, 1.0, 2.0, 2.0], [2], []),     # fully inside
        (3, 1, [20.0, 20.0, 30.0, 30.0], [2], []),  # far away
        (4, 1, [4.5, 4.5, 5.5, 5.5], [2], []),     # inside the hole
        (5, 1, [3.0, 5.0, 7.0, 5.0], [2], []),     # crosses the hole
    ], PROBE_SCHEMA)
    out = geom_join(probes, _box_poly_df(spark), predicate="intersects",
                    index_zoom=4)
    got = {r["feature_id"] for r in out.collect()}
    assert got == {1, 2, 5}


def test_geom_join_builds_no_job(spark):
    """Building the geom_join plan starts no Spark job, even over a
    grouped probe table whose partition count AQE only knows by running
    it."""
    from tilemaker_spark.operators.spatial_join import geom_join
    probes = spark.createDataFrame([
        (1, 1, [-5.0, 5.0, 5.0, 5.0], [2], []),
        (2, 1, [20.0, 20.0, 30.0, 30.0], [2], []),
    ], PROBE_SCHEMA).groupBy("feature_id").agg(*[
        F.first(c).alias(c)
        for c in ("kind", "coords", "ring_sizes", "poly_ring_counts")])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = geom_join(probes, _box_poly_df(spark), predicate="intersects",
                    index_zoom=4)
    assert set(tracker.getJobIdsForGroup()) == before
    assert {r["feature_id"] for r in out.collect()} == {1}


def test_spatial_joins_plan_no_per_row_python(spark, pts, grid):
    """Both covers and the geom_join refine run as ``mapInArrow`` over
    whole Arrow batches: neither join's plan holds a scalar pandas UDF
    (ArrowEvalPython) or a pandas map (MapInPandas)."""
    import io
    from contextlib import redirect_stdout

    from tilemaker_spark.operators.spatial_join import geom_join
    probes = spark.createDataFrame(
        [(1, 1, [-5.0, 5.0, 5.0, 5.0], [2], [])], PROBE_SCHEMA)
    plans = {
        "pip_broadcast": spatial_join.pip_join_broadcast(pts, grid),
        "pip_cell": spatial_join.pip_join_cell(pts, grid),
        "geom_join": geom_join(probes, _box_poly_df(spark), index_zoom=4),
        "geom_join_area": geom_join(probes, _box_poly_df(spark),
                                    predicate="area", index_zoom=4)}
    for name, df in plans.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "MapInArrow" in plan, name
        for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert node not in plan, (name, node)


def test_geom_join_covered_by(spark):
    from tilemaker_spark.operators.spatial_join import geom_join
    probes = spark.createDataFrame([
        (1, 1, [-5.0, 5.0, 5.0, 5.0], [2], []),   # crosses: not covered
        (2, 1, [1.0, 1.0, 2.0, 2.0], [2], []),    # inside: covered
        # polygon probes
        (3, 3, [1.0, 1.0, 3.0, 1.0, 3.0, 3.0, 1.0, 3.0, 1.0, 1.0],
         [5], [1]),                                 # inside: covered
        (4, 3, [8.0, 8.0, 12.0, 8.0, 12.0, 12.0, 8.0, 12.0, 8.0, 8.0],
         [5], [1]),                                 # overlaps edge: not
        (5, 3, [3.0, 3.0, 7.0, 3.0, 7.0, 7.0, 3.0, 7.0, 3.0, 3.0],
         [5], [1]),                                 # hole pokes in: not
    ], PROBE_SCHEMA)
    out = geom_join(probes, _box_poly_df(spark), predicate="covered_by",
                    index_zoom=4)
    got = {r["feature_id"] for r in out.collect()}
    assert got == {2, 3}


def test_geom_join_area_intersecting(spark):
    from tilemaker_spark.operators.spatial_join import geom_join
    probes = spark.createDataFrame([
        # overlaps corner: [8,10]x[8,10] -> 4.0
        (1, 3, [8.0, 8.0, 12.0, 8.0, 12.0, 12.0, 8.0, 12.0, 8.0, 8.0],
         [5], [1]),
        # fully inside minus nothing: [1,3]^2 -> 4.0
        (2, 3, [1.0, 1.0, 3.0, 1.0, 3.0, 3.0, 1.0, 3.0, 1.0, 1.0],
         [5], [1]),
        # covers the hole region: [3,7]^2 -> 16 - 4 (hole) = 12
        (3, 3, [3.0, 3.0, 7.0, 3.0, 7.0, 7.0, 3.0, 7.0, 3.0, 3.0],
         [5], [1]),
    ], PROBE_SCHEMA)
    out = geom_join(probes, _box_poly_df(spark), predicate="area",
                    index_zoom=4)
    got = {r["feature_id"]: r["area_deg2"] for r in out.collect()}
    assert got[1] == pytest.approx(4.0, abs=1e-3)
    assert got[2] == pytest.approx(4.0, abs=1e-3)
    assert got[3] == pytest.approx(12.0, abs=1e-3)


def test_pairwise_kernels():
    line = np.array([[1.0, 1.0], [2.0, 2.0]])
    box = [[np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)]]
    assert G.lines_intersect_multipolygon_batch([line], box)[0]
    assert G.lines_covered_by_multipolygon_batch([line], box)[0]
    crossing = np.array([[-5.0, 5.0], [5.0, 5.0]])
    assert G.lines_intersect_multipolygon_batch([crossing], box)[0]
    assert not G.lines_covered_by_multipolygon_batch([crossing], box)[0]
    far = np.array([[20.0, 20.0], [30.0, 20.0]])
    assert not G.lines_intersect_multipolygon_batch([far], box)[0]
    small = [[np.array([[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]], float)]]
    assert G.mps_intersect_multipolygon_batch([small], box)[0]
    assert G.mps_covered_by_batch([small], box)[0]
    assert not G.mps_covered_by_batch([box], small)[0]
    # multi-part probe whose SECOND component lies wholly inside box with
    # no boundary crossing (first is far away) — containment must be
    # tested per component, not just on the first vertex of part 0
    multi = [
        [np.array([[50, 50], [60, 50], [60, 60], [50, 60], [50, 50]],
                  float)],
        [np.array([[4, 4], [5, 4], [5, 5], [4, 5], [4, 4]], float)],
    ]
    assert G.mps_intersect_multipolygon_batch([multi], box)[0]
    assert G.mps_intersect_multipolygon_batch([box], multi)[0]


def test_knn_cell_audit(spark):
    """The under-fill audit: 0 flagged for a dense in-ring fixture; >0 for
    a sparse fixture whose true neighbors live outside the 3x3 ring."""
    from tilemaker_spark.operators.knn import knn_join_cell, knn_cell_audit
    # dense: 20 candidates immediately around each of 3 queries
    qs = spark.createDataFrame(
        [(i, 10.0 + i * 0.01, 45.0) for i in range(3)],
        "query_id long, lon double, lat double")
    cands = spark.createDataFrame(
        [(100 + j, 10.0 + (j % 10) * 0.005, 45.0 + (j // 10) * 0.005)
         for j in range(20)],
        "cand_id long, lon double, lat double")
    res = knn_join_cell(qs, cands, k=3, cell_zoom=5)
    audit = knn_cell_audit(res, qs, k=3, cell_zoom=5)
    assert audit.filter(F.col("under_filled")).count() == 0
    # sparse: only 1 candidate anywhere near; k=3 can't fill
    far = spark.createDataFrame(
        [(200, 10.0, 45.0), (201, 170.0, -40.0), (202, -170.0, 40.0)],
        "cand_id long, lon double, lat double")
    res2 = knn_join_cell(qs, far, k=3, cell_zoom=5)
    audit2 = knn_cell_audit(res2, qs, k=3, cell_zoom=5)
    assert audit2.filter(F.col("under_filled")).count() == 3


def test_radius_join_matches_bruteforce(spark):
    """Cell+ring DWithin == brute-force filtered cross join when the
    radius is inside every query's ring guard."""
    from tilemaker_spark.operators import knn as K
    img = synth.images_df(spark, 300, with_bytes=False)
    clustered = img.filter(
        (F.col("lon") > -30) & (F.col("lon") < 30)
        & (F.col("lat") > -30) & (F.col("lat") < 30))
    q = clustered.limit(6).select(
        F.col("image_id").alias("query_id"), "lon", "lat")
    c = clustered.select(F.col("image_id").alias("cand_id"), "lon", "lat")
    r = 500_000.0
    # brute force: broadcast kNN with huge k, filtered to the radius
    bf = (K.knn_join_broadcast(q, c, k=10_000)
          .filter(F.col("dist_m") <= r))
    cell = K.radius_join_cell(q, c, radius_m=r, cell_zoom=3)
    ra = {(x["query_id"], x["cand_id"]) for x in bf.collect()}
    rb = {(x["query_id"], x["cand_id"]) for x in cell.collect()}
    assert ra == rb and len(rb) > 0
    # every pair respects the band
    assert cell.filter(F.col("dist_m") > r).count() == 0


def test_radius_join_audit_flags_oversized_radius(spark):
    from tilemaker_spark.operators.knn import radius_join_audit
    qs = spark.createDataFrame(
        [(0, 10.0, 45.0)], "query_id long, lon double, lat double")
    ok = radius_join_audit(qs, radius_m=100_000.0, cell_zoom=4)
    assert ok.collect()[0]["covered"]
    # a radius wider than one z4 cell cannot be covered by the 3x3 ring
    bad = radius_join_audit(qs, radius_m=5_000_000.0, cell_zoom=4)
    assert not bad.collect()[0]["covered"]


def test_radius_join_driver_fixture_covered(spark):
    """The driver query's (zoom 4, 1,000 km) fixture is provably exact:
    every nation-derived query point's ring guard exceeds the radius."""
    from tilemaker_spark.operators.knn import radius_join_audit
    n_keys = spark.range(25).select(
        (F.col("id") + 7777).alias("k"))
    lon, lat = synth.geo_point_expr(F.col("k"))
    qs = n_keys.select(F.col("k").alias("query_id"),
                       lon.alias("lon"), lat.alias("lat"))
    audit = radius_join_audit(qs, radius_m=1_000_000.0, cell_zoom=4)
    assert audit.filter(~F.col("covered")).count() == 0
