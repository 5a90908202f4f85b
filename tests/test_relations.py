"""Relation membership + postscan tag bouncing
(reference include/osm_store.h:97-200 NextRelation/FindInRelation,
docs/RELATIONS.md:60-109, src/osm_lua_processing.cpp:1044-1108)."""

import pytest
from pyspark.sql import functions as F

from conftest import MONACO, requires_monaco
from tilemaker_spark.operators import relations as R
from tilemaker_spark.sources import pbf as pbf_src

REL_SCHEMA = ("id long, members array<struct<mtype:int,ref:long,"
              "role:string>>, tags map<string,string>")


@requires_monaco
def test_monaco_member_ways_see_parent_relation(spark):
    """Reference fixture: relation 1124039 (Monaco boundary, 17 members,
    test/pbf_reader.test.cpp:95-103) is visible from its member ways."""
    _, ways, rels = pbf_src.read_pbf_multi(spark, [MONACO])
    accepted = R.accept_relations(
        rels, F.col("tags")["boundary"] == "administrative")
    out = R.parent_relations(ways, accepted, mtype=1)
    # 770774507 is a member way of 1124039 present in the extract
    w = out.filter(F.col("id") == 770774507).collect()
    assert len(w) == 1
    parents = w[0]["rels"]
    hit = [p for p in parents if p["rel_id"] == 1124039]
    assert len(hit) == 1
    assert hit[0]["role"] == "outer"
    assert hit[0]["rel_tags"]["name"] == "Monaco"
    # a way that is in no accepted relation gets an empty array
    lone = out.filter(F.size("rels") == 0).count()
    assert lone > 0


@requires_monaco
def test_parent_relations_respects_accept(spark):
    _, ways, rels = pbf_src.read_pbf_multi(spark, [MONACO])
    none_accepted = R.accept_relations(
        rels, F.col("tags")["type"] == "nonexistent")
    out = R.parent_relations(ways, none_accepted, mtype=1)
    assert out.filter(F.size("rels") > 0).count() == 0


def test_synth_member_ways_see_parent_relation(spark, synth_pbf):
    """Synthetic twin of the Monaco test above: route relation 21
    ("route 0") lists ways 1-5, and each sees it as its parent."""
    _, ways, rels = pbf_src.read_pbf_multi(spark, [synth_pbf])
    accepted = R.accept_relations(rels, F.col("tags")["type"] == "route")
    out = R.parent_relations(ways, accepted, mtype=1)
    got = {r["id"]: r["rels"] for r in out.filter(
        F.col("id").between(1, 6)).collect()}
    for wid in range(1, 6):
        assert [p["rel_id"] for p in got[wid]] == [21]
        assert got[wid][0]["role"] == ""
        assert got[wid][0]["rel_tags"]["name"] == "route 0"
    # way 6 is in no accepted relation: an empty array
    assert got[6] == []
    assert out.filter(F.size("rels") > 0).count() == 20


def test_synth_parent_relations_respects_accept(spark, synth_pbf):
    _, ways, rels = pbf_src.read_pbf_multi(spark, [synth_pbf])
    none_accepted = R.accept_relations(
        rels, F.col("tags")["type"] == "nonexistent")
    out = R.parent_relations(ways, none_accepted, mtype=1)
    assert out.filter(F.size("rels") > 0).count() == 0
    assert out.count() == ways.count()


@pytest.fixture(scope="module")
def nested_rels(spark):
    # superroute 1 -> route 2 -> (way member 100); plus standalone route 3
    rows = [
        (1, [(2, 2, "")],
         {"type": "superroute", "route": "bicycle", "name": "Loire"}),
        (2, [(1, 100, "")],
         {"type": "route", "route": "bicycle", "network": "ncn"}),
        (3, [(1, 200, "")], {"type": "route", "name": "own"}),
    ]
    return spark.createDataFrame(rows, REL_SCHEMA)


def test_relation_ancestors_flatten(spark, nested_rels):
    out = R.relation_ancestors(nested_rels)
    by_id = {r["id"]: r["ancestors"] for r in out.collect()}
    assert [a["rel_id"] for a in by_id[2]] == [1]
    assert by_id[2][0]["rel_tags"]["name"] == "Loire"
    assert by_id[1] == [] and by_id[3] == []


def test_postscan_bounces_tag_down(spark, nested_rels):
    """docs/RELATIONS.md:84-105 example: the route takes its name from
    the superroute ancestor; relations with their own name keep it."""
    out = R.relation_postscan(
        nested_rels,
        rules=[("type", "superroute", "name", "name")])
    tags = {r["id"]: r["tags"] for r in out.collect()}
    assert tags[2]["name"] == "Loire"          # bounced from parent
    assert tags[2]["network"] == "ncn"         # other tags kept
    assert tags[3]["name"] == "own"            # no matching ancestor: kept
    assert tags[1]["name"] == "Loire"          # own tag survives


def test_grandparent_bounce(spark):
    # depth 2: superroute 1 -> route 2 -> route 4; 4's member way is 300
    rows = [
        (1, [(2, 2, "")], {"type": "superroute", "name": "Top"}),
        (2, [(2, 4, "")], {"type": "route"}),
        (4, [(1, 300, "")], {"type": "route"}),
    ]
    rels = spark.createDataFrame(rows, REL_SCHEMA)
    out = R.relation_postscan(
        rels, rules=[("type", "superroute", "name", "name")])
    tags = {r["id"]: r["tags"] for r in out.collect()}
    assert tags[4].get("name") == "Top"   # flattened across two levels
    assert tags[2].get("name") == "Top"


def test_find_in_parents_and_set_tag(spark):
    df = spark.createDataFrame(
        [(1, [("10", "outer", {"name": "A"}), ("11", "inner", {"x": "y"})])],
        "id long, rels array<struct<rel_id:string,role:string,"
        "rel_tags:map<string,string>>>")
    got = df.select(
        R.find_in_parents("rels", "name").alias("nm"),
        R.find_in_parents("rels", "zzz").alias("missing"),
    ).collect()[0]
    assert got["nm"] == "A" and got["missing"] is None
    df2 = spark.createDataFrame([(1, {"a": "1"})],
                                "id long, tags map<string,string>")
    got2 = df2.select(
        R.set_tag("tags", "b", F.lit("2")).alias("t1"),
        R.set_tag("tags", "a", F.lit(None).cast("string")).alias("t2"),
    ).collect()[0]
    assert got2["t1"] == {"a": "1", "b": "2"}
    assert got2["t2"] == {"a": "1"}  # null value = no-op


def test_restart_relations_equivalence(spark):
    """RestartRelations (reference src/osm_lua_processing.cpp:1055-1057)
    resets the membership-list cursor so a rule can iterate again.  The
    array-column representation has no cursor: two sequential passes
    over the SAME parents column each see the full list from the start,
    in order — exactly what restart-then-rescan produces."""
    df = spark.createDataFrame(
        [(1, [("10", "outer", {"ref": "A", "net": "x"}),
              ("11", "inner", {"ref": "B"}),
              ("12", "outer", {"net": "z"})])],
        "id long, rels array<struct<rel_id:string,role:string,"
        "rel_tags:map<string,string>>>")
    # pass 1: iterate collecting refs; "restart"; pass 2: iterate again
    # collecting nets — pass 2 must see all three parents from index 0
    rels2 = R.restart_relations("rels")
    got = df.select(
        F.transform("rels", lambda p: p["rel_tags"]["ref"]).alias("p1"),
        F.transform(rels2, lambda p: p["rel_tags"]["net"]).alias("p2"),
        F.transform(rels2, lambda p: p["rel_id"]).alias("ids"),
    ).collect()[0]
    assert got["p1"] == ["A", "B", None]
    assert got["p2"] == ["x", None, "z"]      # full list, original order
    assert got["ids"] == ["10", "11", "12"]   # restart = identity scan
