"""Profile-tier features: significant-tag filters, typed attributes,
attribute minzoom, LayerAsCentroid."""

import pytest
from pyspark.sql import functions as F

from conftest import MONACO, requires_monaco
from tilemaker_spark.config import Config, LayerDef
from tilemaker_spark.kernels import mvt
from tilemaker_spark.operators import tiling
from tilemaker_spark.plans import profile as prof


@pytest.fixture(scope="module")
def tagged(spark):
    rows = [
        (1, {"building": "yes"}),
        (2, {"highway": "primary"}),
        (3, {"building": "yes", "name": "x"}),
        (4, {"highway": "motorway", "name": "a1"}),
        (5, {"natural": "water"}),
    ]
    return spark.createDataFrame(rows, "id long, tags map<string,string>")


def test_significant_tags_accept(spark, tagged):
    """Accept mode: entity passes if any tag matches (reference
    src/significant_tags.cpp:60-69)."""
    got = {r["id"] for r in tagged.filter(
        prof.significant_tags(["highway", "natural"])).collect()}
    assert got == {2, 4, 5}
    # value-qualified filter
    got = {r["id"] for r in tagged.filter(
        prof.significant_tags(["highway=motorway"])).collect()}
    assert got == {4}


def test_significant_tags_reject(spark, tagged):
    """Reject mode (~): passes if at least one tag is NOT matched —
    ~building drops building-ONLY entities (reference :72-90)."""
    got = {r["id"] for r in tagged.filter(
        prof.significant_tags(["~building"])).collect()}
    assert got == {2, 3, 4, 5}   # 1 is building-only; 3 also has name
    with pytest.raises(ValueError):
        prof.significant_tags(["~building", "highway"])


def _tiles_for(spark, rows, cfg):
    feats = spark.createDataFrame(rows, tiling.FEATURE_SCHEMA)
    return {(r["z"], r["x"], r["y"]): bytes(r["tile"])
            for r in tiling.generate_tiles(feats, cfg).collect()}


def test_typed_attributes_and_attr_minzoom(spark):
    rows = [(1, "poi", 0, 13, 0,
             {"name": "cafe", "lanes": "3", "open": "true", "ele": "12.5"},
             [7.42, 43.73], [1], [])]
    cfg = Config(layers={
        "poi": LayerDef(
            "poi", minzoom=13, maxzoom=14, combine_points=False,
            attr_types={"lanes": "Integer", "open": "Boolean",
                        "ele": "Number"},
            attr_minzoom={"name": 14}),
    }, minzoom=13, maxzoom=14)
    tiles = _tiles_for(spark, rows, cfg)
    z13 = [mvt.decode_tile(b) for (z, _, _), b in tiles.items() if z == 13]
    z14 = [mvt.decode_tile(b) for (z, _, _), b in tiles.items() if z == 14]
    a13 = z13[0]["poi"]["features"][0]["attrs"]
    a14 = z14[0]["poi"]["features"][0]["attrs"]
    assert "name" not in a13          # attr minzoom 14 filters it at z13
    assert a14["name"] == "cafe"      # present at z14
    assert a14["lanes"] == 3 and isinstance(a14["lanes"], int)
    assert a14["open"] is True
    assert a14["ele"] == 12.5


def test_layer_as_centroid(spark):
    """LayerAsCentroid: polygon rule emits a label point inside the
    polygon (reference src/osm_lua_processing.cpp:749-863)."""
    way_geoms = spark.createDataFrame(
        [(1, {"place": "islet", "name": "I"},
          [7.40, 43.70, 7.44, 43.70, 7.44, 43.74, 7.40, 43.74, 7.40, 43.70],
          True)],
        "id long, tags map<string,string>, coords array<double>, "
        "is_closed boolean")
    rules = [prof.LayerRule(
        layer="place", source="way_area",
        match=lambda: prof.holds("place"),
        attrs={"name": lambda: prof.find("name")},
        as_centroid=True)]
    feats = prof.Profile(rules).apply(way_geoms=way_geoms).collect()
    assert len(feats) == 1
    f = feats[0]
    assert f["kind"] == 0  # POINT
    x, y = f["coords"]
    assert 7.40 < x < 7.44 and 43.70 < y < 43.74
    # label point of a rectangle = its center (pole of inaccessibility)
    assert x == pytest.approx(7.42, abs=1e-3)
    assert y == pytest.approx(43.72, abs=1e-3)


def test_centroid_algorithm_choice(spark):
    """Centroid("centroid") picks the boost-style area centroid over
    polylabel (reference src/osm_lua_processing.cpp:865-943,
    parseCentroidAlgorithm): for an L-shaped polygon the two differ —
    the area centroid can sit outside the thickest region."""
    # L shape: [0,4]x[0,1] plus [0,1]x[0,4]
    coords = [0.0, 0.0, 4.0, 0.0, 4.0, 1.0, 1.0, 1.0, 1.0, 4.0,
              0.0, 4.0, 0.0, 0.0]
    way_geoms = spark.createDataFrame(
        [(1, {"place": "x"}, coords, True)],
        "id long, tags map<string,string>, coords array<double>, "
        "is_closed boolean")

    def run(algo):
        rules = [prof.LayerRule(
            layer="place", source="way_area",
            match=lambda: prof.holds("place"),
            as_centroid=True, centroid_algorithm=algo)]
        return prof.Profile(rules).apply(way_geoms=way_geoms).collect()[0]

    cx, cy = run("centroid")["coords"]
    # closed-form centroid of the L: both arms 4x1, total area 7
    assert cx == pytest.approx((4 * 2.0 + 3 * 0.5) / 7, abs=1e-9)
    assert cy == pytest.approx((4 * 0.5 + 3 * 2.5) / 7, abs=1e-9)
    px, py = run("polylabel")["coords"]
    assert (px, py) != (cx, cy)  # polylabel stays in an arm's interior


def test_centroid_role_member(spark):
    """LayerAsCentroid(layer, role...): relation label point comes from
    the member node with the preferred role; relations without a matching
    member fall back to the centroid algorithm (reference
    src/osm_lua_processing.cpp:749-812)."""
    rel_geoms = spark.createDataFrame(
        [(10, {"type": "boundary", "name": "A"},
          [0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0], [5], [1]),
         (11, {"type": "boundary", "name": "B"},
          [5.0, 5.0, 7.0, 5.0, 7.0, 7.0, 5.0, 7.0, 5.0, 5.0], [5], [1])],
        "id long, tags map<string,string>, coords array<double>, "
        "ring_sizes array<int>, poly_ring_counts array<int>")
    relations = spark.createDataFrame(
        [(10, [(0, 100, "admin_centre"), (0, 101, "label"),
               (1, 200, "outer")], {"type": "boundary"}),
         (11, [(1, 201, "outer")], {"type": "boundary"})],
        "id long, members array<struct<mtype:int,ref:long,role:string>>, "
        "tags map<string,string>")
    nodes = spark.createDataFrame(
        [(100, 1.9, 1.9, {}), (101, 0.5, 0.5, {})],
        "id long, lon double, lat double, tags map<string,string>")
    rules = [prof.LayerRule(
        layer="place", source="relation",
        match=lambda: prof.holds("type"),
        attrs={"name": lambda: prof.find("name")},
        as_centroid=True, centroid_roles=("label", "admin_centre"))]
    feats = {r["feature_id"]: r for r in prof.Profile(rules).apply(
        nodes=nodes, rel_geoms=rel_geoms, relations=relations).collect()}
    # rel 10: "label" preferred over "admin_centre" -> node 101
    assert feats[10]["coords"] == [0.5, 0.5]
    # rel 11: no label member -> polylabel fallback (center of its box)
    x, y = feats[11]["coords"]
    assert x == pytest.approx(6.0, abs=1e-2)
    assert y == pytest.approx(6.0, abs=1e-2)
    assert all(f["kind"] == 0 for f in feats.values())


def test_get_data_expr(spark, tagged):
    """GetData/SetData analogue (reference osm_lua_processing.cpp:203-210):
    dict lookup as a Column expression inside a rule."""
    lookup = prof.get_data_expr({"primary": "P-road", "motorway": "M-road"})
    rows = spark.createDataFrame(
        [(1, 1.0, 2.0, {"highway": "primary"}),
         (2, 3.0, 4.0, {"highway": "motorway"}),
         (3, 5.0, 6.0, {"highway": "footway"})],
        "id long, lon double, lat double, tags map<string,string>")
    rules = [prof.LayerRule(
        layer="roads", source="node",
        match=lambda: prof.holds("highway"),
        attrs={"kindname": lambda: lookup(prof.find("highway"))})]
    feats = {r["feature_id"]: dict(r["attrs"])
             for r in prof.Profile(rules).apply(nodes=rows).collect()}
    assert feats[1] == {"kindname": "P-road"}
    assert feats[2] == {"kindname": "M-road"}
    assert feats[3] == {}  # unmatched key -> null -> attr dropped

    # collect_data round-trip from a small relation-scan table
    d = prof.collect_data(
        spark.createDataFrame([("FR", "France"), ("MC", "Monaco")],
                              "k string, v string"), "k", "v")
    assert d == {"FR": "France", "MC": "Monaco"}


@requires_monaco
def test_used_closure_prunes_nodes(spark):
    """usedNodes/usedWays (reference include/osm_store.h:270-300): nodes
    are kept iff referenced by a used way, listed by an accepted
    relation's member way, or passing node_keys."""
    from tilemaker_spark.sources import pbf as pbf_src
    nodes, ways, rels = pbf_src.read_pbf_multi(spark, [MONACO])
    n_all = nodes.count()
    nu, wu = prof.used_closure(
        nodes, ways,
        way_filter=prof.significant_tags(["highway"]),
        node_filter=prof.significant_tags(["place"]))
    n_used, w_used = nu.count(), wu.count()
    assert w_used < ways.count()
    assert n_used < n_all
    # every used way's refs are present in the pruned node set (minus
    # extract-boundary missing nodes, which the pbf itself lacks)
    ref_ids = wu.select(F.explode("refs").alias("id")).distinct()
    present = ref_ids.join(nodes, "id", "left_semi").count()
    kept = ref_ids.join(nu, "id", "left_semi").count()
    assert kept == present
    # relation closure pulls member ways in even when way_keys reject them
    nu2, wu2 = prof.used_closure(
        nodes, ways, relations=rels,
        way_filter=prof.significant_tags(["highway"]),
        relation_pred=F.col("tags")["boundary"] == "administrative")
    assert wu2.count() > w_used


def test_synth_used_closure_prunes_nodes(spark, synth_pbf):
    """Synthetic twin of the Monaco test above.  The extract is
    referentially complete, so every used way's refs survive the
    pruning; multipolygon relations pull in their landuse member ways,
    which the highway way_keys reject."""
    from tilemaker_spark.sources import pbf as pbf_src
    nodes, ways, rels = pbf_src.read_pbf_multi(spark, [synth_pbf])
    n_all = nodes.count()
    nu, wu = prof.used_closure(
        nodes, ways,
        way_filter=prof.significant_tags(["highway"]),
        node_filter=prof.significant_tags(["place"]))
    n_used, w_used = nu.count(), wu.count()
    assert w_used < ways.count()
    assert n_used < n_all
    ref_ids = wu.select(F.explode("refs").alias("id")).distinct()
    kept = ref_ids.join(nu, "id", "left_semi").count()
    assert kept == ref_ids.count()
    nu2, wu2 = prof.used_closure(
        nodes, ways, relations=rels,
        way_filter=prof.significant_tags(["highway"]),
        relation_pred=F.col("tags")["type"] == "multipolygon")
    assert wu2.count() > w_used


def test_modify_id(spark):
    way_geoms = spark.createDataFrame(
        [(7, {"highway": "path"}, [0.0, 0.0, 1.0, 1.0], False)],
        "id long, tags map<string,string>, coords array<double>, "
        "is_closed boolean")
    rules = [prof.LayerRule(
        layer="t", source="way_line", match=lambda: prof.holds("highway"),
        feature_id=lambda: F.col("id") * 2 + 1)]
    out = prof.Profile(rules).apply(way_geoms=way_geoms).collect()
    assert out[0]["feature_id"] == 15


def _entity_tables(spark):
    """One small table per profile source: way 10 is closed and tagged
    for a line rule and two area rules, way 11 is open, relation 30 has a
    ``label`` member node and relation 31 has none."""
    sq = [0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0]
    nodes = spark.createDataFrame(
        [(1, 5.0, 5.0, {"amenity": "cafe", "name": "c"}),
         (2, 6.0, 6.0, {}), (3, 0.5, 0.5, {})],
        "id long, lon double, lat double, tags map<string,string>")
    way_geoms = spark.createDataFrame(
        [(10, {"highway": "pedestrian", "landuse": "basin"}, sq, True),
         (11, {"highway": "path", "landuse": "basin"},
          [0.0, 0.0, 1.0, 1.0], False),
         (12, {"building": "yes"}, sq, True)],
        "id long, tags map<string,string>, coords array<double>, "
        "is_closed boolean")
    rel_geoms = spark.createDataFrame(
        [(30, {"type": "boundary", "name": "A"}, sq, [5], [1]),
         (31, {"type": "boundary", "natural": "water"}, sq, [5], [1])],
        "id long, tags map<string,string>, coords array<double>, "
        "ring_sizes array<int>, poly_ring_counts array<int>")
    relations = spark.createDataFrame(
        [(30, [(0, 3, "label"), (1, 12, "outer")], {"type": "boundary"}),
         (31, [(1, 10, "outer")], {"type": "boundary"})],
        "id long, members array<struct<mtype:int,ref:long,role:string>>, "
        "tags map<string,string>")
    return dict(nodes=nodes, way_geoms=way_geoms, rel_geoms=rel_geoms,
                relations=relations)


def test_one_pass_matches_single_rule_union(spark):
    """All of a table's rules run in one projection; that emits the same
    multiset of rows as running each rule on its own and taking the
    union — across all four sources, a way hit by line and area rules,
    landuse=basin hitting water and landuse, a relation label member, a
    feature_id override and a node rule."""
    rules = [
        prof.LayerRule(layer="transportation", source="way_line",
                       match=lambda: prof.holds("highway"),
                       attrs={"class": lambda: prof.find("highway")},
                       minzoom=lambda: F.when(
                           prof.find("highway") == "path", F.lit(12))
                       .otherwise(F.lit(9))),
        prof.LayerRule(layer="water", source="way_area",
                       match=lambda: prof.find("landuse") == "basin",
                       attrs={"class": lambda: F.lit("lake")}),
        prof.LayerRule(layer="landuse", source="way_area",
                       match=lambda: prof.holds("landuse"),
                       attrs={"class": lambda: prof.find("landuse")},
                       feature_id=lambda: F.col("id") * 2 + 1, zorder=5),
        prof.LayerRule(layer="building", source="way_area",
                       match=lambda: prof.holds("building"),
                       as_centroid=True, centroid_algorithm="centroid"),
        prof.LayerRule(layer="place", source="relation",
                       match=lambda: prof.holds("type"),
                       attrs={"name": lambda: prof.find("name")},
                       as_centroid=True, centroid_roles=("label",)),
        prof.LayerRule(layer="water", source="relation",
                       match=lambda: prof.find("natural") == "water"),
        prof.LayerRule(layer="poi", source="node",
                       match=lambda: prof.holds("amenity"),
                       attrs={"name": lambda: prof.find("name")},
                       minzoom=14),
    ]
    tables = _entity_tables(spark)

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    one = prof.Profile(rules).apply(**tables)
    each = [prof.Profile([r]).apply(**tables) for r in rules]
    union = each[0]
    for df in each[1:]:
        union = union.unionByName(df)
    got = rows(one)
    assert got == rows(union)
    by_key = {(r["layer"], r["feature_id"]): r for r in one.collect()}
    # way 10: one line and two areas (landuse under its id override);
    # open way 11: the line rule only
    assert len(got) == 9 and set(by_key) == {
        ("transportation", 10), ("water", 10), ("landuse", 21),
        ("transportation", 11), ("building", 12), ("place", 30),
        ("place", 31), ("water", 31), ("poi", 1)}
    assert by_key[("landuse", 21)]["zorder"] == 5
    assert by_key[("building", 12)]["coords"] == [1.0, 1.0]
    assert by_key[("place", 30)]["coords"] == [0.5, 0.5]   # label member
    assert by_key[("place", 31)]["kind"] == 0
    assert by_key[("water", 31)]["kind"] == 3              # not a centroid
    assert dict(by_key[("poi", 1)]["attrs"]) == {"name": "c"}


def test_unknown_centroid_algorithm_raises(spark):
    rules = [prof.LayerRule(layer="place", source="way_area",
                            match=lambda: F.lit(True), as_centroid=True,
                            centroid_algorithm="median")]
    with pytest.raises(ValueError, match="unknown centroid algorithm"):
        prof.Profile(rules).apply(
            way_geoms=_entity_tables(spark)["way_geoms"])
