"""Geometry assembly tests: way⋈nodes ordering, multipolygon stitching
(semantics of /root/reference/src/osm_store.cpp:65-227)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.operators import assembly
from tilemaker_spark.kernels import geom as G


def test_way_assembly_preserves_ref_order(spark):
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 1.0, 1.0)],
        "id long, lon double, lat double")
    # refs deliberately not in node-id order
    ways = spark.createDataFrame(
        [(10, [3, 1, 2], {"highway": "x"})],
        "id long, refs array<long>, tags map<string,string>")
    out = assembly.assemble_way_geometries(ways, nodes).collect()
    assert len(out) == 1
    assert out[0]["coords"] == [1.0, 1.0, 0.0, 0.0, 1.0, 0.0]
    assert out[0]["is_closed"] is False


def test_way_assembly_closed_flag(spark):
    nodes = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(1, 4)],
        "id long, lon double, lat double")
    ways = spark.createDataFrame(
        [(10, [1, 2, 3, 1], {})],
        "id long, refs array<long>, tags map<string,string>")
    out = assembly.assemble_way_geometries(ways, nodes).collect()
    assert out[0]["is_closed"] is True
    assert out[0]["n_refs"] == 4 and out[0]["n_found"] == 4


def test_way_assembly_integrity(spark):
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0)], "id long, lon double, lat double")
    ways = spark.createDataFrame(
        [(10, [1, 99], {})],
        "id long, refs array<long>, tags map<string,string>")
    # missing node 99: strict mode drops the way, skip_integrity keeps it
    assert assembly.assemble_way_geometries(ways, nodes).count() == 0
    out = assembly.assemble_way_geometries(
        ways, nodes, skip_integrity=True).collect()
    assert out[0]["n_found"] == 1


def test_stitch_rings_reversal():
    # two half-rings, second needs reversal to chain
    a = np.array([[0, 0], [1, 0], [1, 1]], float)
    b = np.array([[0, 0], [0, 1], [1, 1]], float)  # end matches a's end
    rings = assembly.stitch_rings([a, b])
    assert len(rings) == 1
    assert len(rings[0]) == 5
    assert (rings[0][0] == rings[0][-1]).all()


def test_stitch_rings_drops_unclosable():
    a = np.array([[0, 0], [1, 0]], float)
    b = np.array([[5, 5], [6, 6]], float)
    assert assembly.stitch_rings([a, b]) == []


def test_assign_holes():
    outer1 = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    outer2 = np.array([[10, 10], [14, 10], [14, 14], [10, 14], [10, 10]],
                      float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], float)
    polys = assembly.assign_holes([outer1, outer2], [hole])
    assert len(polys) == 2
    assert len(polys[0]) == 2 and len(polys[1]) == 1
    # winding: outer CCW (positive), hole CW (negative)
    assert G.signed_ring_area_planar(polys[0][0]) > 0
    assert G.signed_ring_area_planar(polys[0][1]) < 0


def test_relation_multipolygon_end_to_end(spark):
    # square outer from two open ways + one hole way
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 4.0, 0.0), (3, 4.0, 4.0), (4, 0.0, 4.0),
         (5, 1.0, 1.0), (6, 2.0, 1.0), (7, 2.0, 2.0), (8, 1.0, 2.0)],
        "id long, lon double, lat double")
    ways = spark.createDataFrame(
        [(100, [1, 2, 3], {}), (101, [3, 4, 1], {}),
         (102, [5, 6, 7, 8, 5], {})],
        "id long, refs array<long>, tags map<string,string>")
    rels = spark.createDataFrame(
        [(1000,
          [{"mtype": 1, "ref": 100, "role": "outer"},
           {"mtype": 1, "ref": 101, "role": "outer"},
           {"mtype": 1, "ref": 102, "role": "inner"}],
          {"type": "multipolygon", "natural": "water"})],
        "id long, members array<struct<mtype:tinyint,ref:long,role:string>>,"
        " tags map<string,string>")
    way_geoms = assembly.assemble_way_geometries(ways, nodes)
    out = assembly.assemble_relation_multipolygons(rels, way_geoms).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_outers"] == 1 and r["n_inners"] == 1
    mp = G.unpack_multipolygon(
        np.asarray(r["coords"]), np.asarray(r["ring_sizes"]),
        np.asarray(r["poly_ring_counts"]))
    assert len(mp) == 1 and len(mp[0]) == 2
    # point in ring but inside hole -> excluded
    assert not G.points_in_polygon(
        np.array([1.5]), np.array([1.5]), mp[0])[0]
    assert G.points_in_polygon(np.array([3.0]), np.array([3.0]), mp[0])[0]


def test_way_assembly_skip_integrity_drops_missing(spark):
    """skip_integrity=True: refs whose node is missing contribute no
    coordinates (no null structs surviving into the coords array)."""
    from tilemaker_spark.operators.assembly import assemble_way_geometries
    ways = spark.createDataFrame(
        [(10, [1, 2, 99, 3], {"highway": "path"})],
        "id long, refs array<long>, tags map<string,string>")
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 1.0, 1.0)],
        "id long, lon double, lat double")
    out = assemble_way_geometries(ways, nodes, skip_integrity=True).collect()
    assert len(out) == 1
    coords = out[0]["coords"]
    assert out[0]["n_found"] == 3
    assert None not in coords
    assert coords == [0.0, 0.0, 1.0, 0.0, 1.0, 1.0]


def test_stitch_rings_stops_at_closed_ring():
    """Stitching stops as soon as a ring closes: a way leaving the
    ring's start is left over (and dropped, being unclosable), and a
    second ring seeds from the next unused way."""
    a = np.array([[0, 0], [1, 0], [1, 1]], float)
    b = np.array([[1, 1], [0, 1], [0, 0]], float)
    spur = np.array([[0, 0], [-1, -1]], float)
    c = np.array([[5, 5], [6, 5], [6, 6]], float)
    d = np.array([[5, 5], [5, 6], [6, 6]], float)   # reversed to close c
    rings = assembly.stitch_rings([a, b, spur, c, d])
    assert [r.tolist() for r in rings] == [
        [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
        [[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]]
