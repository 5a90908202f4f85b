"""Relation membership: parent-relation lookup.

Reference semantics (/root/reference/include/osm_store.h:97-200
NextRelation/FindInRelation iteration; docs/RELATIONS.md:60-109): an
entity (node/way/relation) can read the tags of every *accepted*
relation it is a member of.

Spark-first re-expression: membership is one explode + equi-join +
re-aggregate (the same shuffle shape as way assembly).

Member struct layout follows the PBF source: mtype 0=node, 1=way,
2=relation; members: array<struct<mtype:int, ref:long, role:string>>.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARENTS_SCHEMA = "array<struct<rel_id:bigint,role:string," \
                 "rel_tags:map<string,string>>>"


def parent_relations(entities: DataFrame, relations: DataFrame,
                     mtype: int, id_col: str = "id",
                     parents_col: str = "rels") -> DataFrame:
    """Attach to each entity the array of accepted parent relations —
    the NextRelation/FindInRelation surface as a column.

    entities:  any DataFrame with ``id_col`` matching member refs
    relations: (id, members array<struct<mtype,ref,role>>, tags)
    mtype:     0 node members, 1 way members, 2 relation members

    Output: entities + ``parents_col`` array<struct<rel_id, role,
    rel_tags>> (empty array when no parents).  Plan: explode members
    (filtered to mtype — pushed into the generate), shuffle join on ref,
    re-aggregate; entities with no parents come back via a left join."""
    members = relations.select(
        F.col("id").alias("rel_id"),
        F.col("tags").alias("rel_tags"),
        F.explode(F.filter(
            "members", lambda m: m["mtype"] == F.lit(mtype))).alias("m"),
    ).select(
        "rel_id", "rel_tags",
        F.col("m.ref").alias("_ref"),
        F.col("m.role").alias("role"),
    )
    grouped = members.groupBy("_ref").agg(
        F.collect_list(F.struct("rel_id", "role", "rel_tags")).alias(
            parents_col)
    )
    out = entities.join(
        grouped, on=entities[id_col] == grouped["_ref"], how="left"
    ).drop("_ref")
    return out.withColumn(
        parents_col,
        F.when(F.col(parents_col).isNull(),
               F.array().cast(PARENTS_SCHEMA)).otherwise(F.col(parents_col)),
    )
