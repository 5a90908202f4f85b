"""Relation membership (reference include/osm_store.h:97-200
NextRelation/FindInRelation, docs/RELATIONS.md:60-109)."""

from pyspark.sql import functions as F

from conftest import MONACO, requires_monaco
from tilemaker_spark.operators import relations as R
from tilemaker_spark.sources import pbf as pbf_src

@requires_monaco
def test_monaco_member_ways_see_parent_relation(spark):
    """Reference fixture: relation 1124039 (Monaco boundary, 17 members,
    test/pbf_reader.test.cpp:95-103) is visible from its member ways."""
    _, ways, rels = pbf_src.read_pbf_multi(spark, [MONACO])
    accepted = rels.filter(F.col("tags")["boundary"] == "administrative")
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
    none_accepted = rels.filter(F.col("tags")["type"] == "nonexistent")
    out = R.parent_relations(ways, none_accepted, mtype=1)
    assert out.filter(F.size("rels") > 0).count() == 0


def test_synth_member_ways_see_parent_relation(spark, synth_pbf):
    """Synthetic twin of the Monaco test above: route relation 21
    ("route 0") lists ways 1-5, and each sees it as its parent."""
    _, ways, rels = pbf_src.read_pbf_multi(spark, [synth_pbf])
    accepted = rels.filter(F.col("tags")["type"] == "route")
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
    none_accepted = rels.filter(F.col("tags")["type"] == "nonexistent")
    out = R.parent_relations(ways, none_accepted, mtype=1)
    assert out.filter(F.size("rels") > 0).count() == 0
    assert out.count() == ways.count()
