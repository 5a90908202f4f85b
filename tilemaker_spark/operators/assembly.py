"""Geometry assembly: ways -> linestrings/polygons, relations -> multipolygons.

The reference does this with in-RAM store lookups
(/root/reference/src/pbf_processor.cpp:122-146 way⋈node;
src/osm_store.cpp:65-227 multipolygon ring stitching).  Here both are
DataFrame plans:

* way ⋈ nodes: ``posexplode(refs)`` then an equi-join to nodes and an
  order-preserving re-aggregation — a classic shuffle join that scales to
  any node count (the reference's p50=7/p99=161 refs-per-way fanout is the
  join multiplicity).

* relation multipolygons: relations explode to (way, role) members, join
  the assembled way geometries, then one ``applyInArrow`` call per
  relation stitches open ways into closed rings by endpoint matching with
  reversal (the reference's iterative seeding semantics), assigns holes
  to outers by point-in-polygon, and fixes winding.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels import geom as G

STITCHED_ARROW = pa.schema([
    ("rel_id", pa.int64()), ("tags", pa.map_(pa.string(), pa.string())),
    ("coords", pa.list_(pa.float64())), ("ring_sizes", pa.list_(pa.int32())),
    ("poly_ring_counts", pa.list_(pa.int32())),
    ("n_outers", pa.int32()), ("n_inners", pa.int32())])


def assemble_way_geometries(ways: DataFrame, nodes: DataFrame,
                            skip_integrity: bool = False) -> DataFrame:
    """ways(id, refs, tags) ⋈ nodes(id, lon, lat) -> way geometries.

    Output: (id, tags, coords array<double> flat lon/lat in ref order,
    n_refs, n_found, is_closed).  With ``skip_integrity=False`` a way
    that references a missing node is silently dropped (the reference
    errors instead unless --skip-integrity, src/pbf_processor.cpp:131-140);
    otherwise ways keep the nodes found.
    """
    exploded = ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "node_id"),
    )
    joined = exploded.join(
        nodes.select(F.col("id").alias("node_id"), "lon", "lat"),
        on="node_id",
        how="left" if skip_integrity else "inner",
    )
    if skip_integrity:
        # drop refs whose node is missing: only found nodes contribute
        # coordinates (otherwise null structs survive collect_list and
        # become NaN coords downstream)
        joined = joined.filter(F.col("lon").isNotNull())
    agg = joined.groupBy("way_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "lon", "lat"))
        ).alias("_pts"),
        F.count("lon").alias("n_found"),
    )
    geom = agg.select(
        "way_id",
        F.flatten(
            F.transform("_pts", lambda p: F.array(p["lon"], p["lat"]))
        ).alias("coords"),
        "n_found",
    )
    out = ways.select(
        F.col("id"), "tags", F.size("refs").alias("n_refs"),
        (F.col("refs")[0] == F.element_at("refs", -1)).alias("is_closed"),
    ).join(geom, on=F.col("id") == F.col("way_id"), how="inner").drop("way_id")
    if not skip_integrity:
        out = out.withColumn(
            "_ok", F.col("n_found") == F.col("n_refs")
        )
        # enforce integrity lazily: drop every way with a missing node
        # (raising inside Catalyst is not expressible, and no caller
        # checks the counts)
        out = out.filter(F.col("_ok")).drop("_ok")
    return out


def assemble_relation_multipolygons(relations: DataFrame,
                                    way_geoms: DataFrame) -> DataFrame:
    """Multipolygon relations ⋈ member way geometries -> stitched rings.

    relations: (id, members array<struct<mtype,ref,role>>, tags)
    way_geoms: output of :func:`assemble_way_geometries`

    Output: (id, tags, coords, ring_sizes, poly_ring_counts, n_outers,
    n_inners) in the packed-ring schema of ``kernels.geom``.
    Stitching follows the reference semantics (src/osm_store.cpp:65-227):
    ways chain end-to-start with reversal allowed; unclosed leftovers are
    dropped; holes are assigned to the outer that contains them (skip test
    if single outer); winding corrected outer-CCW/inner-CW.
    """
    members = relations.select(
        F.col("id").alias("rel_id"),
        "tags",
        F.explode("members").alias("m"),
    ).filter(
        (F.col("m.mtype") == 1) & F.col("m.role").isin("outer", "inner", "")
    ).select(
        "rel_id", "tags",
        F.col("m.ref").alias("way_id"),
        F.when(F.col("m.role") == "inner", F.lit("inner"))
         .otherwise(F.lit("outer")).alias("role"),
    )
    joined = members.join(
        way_geoms.select(F.col("id").alias("way_id"), "coords"),
        on="way_id", how="inner",
    )

    def stitch(table):
        ways = {"outer": [], "inner": []}
        for coords, role in zip(G.packed_views(table, ("coords",))[0],
                                table.column("role").to_pylist()):
            ways[role].append(coords.reshape(-1, 2))
        outers, inners = stitch_rings(ways["outer"]), stitch_rings(
            ways["inner"])
        if not outers:
            return STITCHED_ARROW.empty_table()
        flat, ring_sizes, poly_counts = G.pack_multipolygon(
            assign_holes(outers, inners))
        head = table.slice(0, 1)
        return pa.Table.from_arrays([
            head.column("rel_id"), head.column("tags"),
            pa.array([flat]), pa.array([ring_sizes]), pa.array([poly_counts]),
            pa.array([len(outers)], pa.int32()),
            pa.array([len(inners)], pa.int32())], schema=STITCHED_ARROW)

    return (
        joined.groupBy("rel_id")
        .applyInArrow(stitch, from_arrow_schema(STITCHED_ARROW))
        .withColumnRenamed("rel_id", "id")
    )


# ---------------------------------------------------------------------------
# pure-python stitching kernels (called inside the Arrow worker)
# ---------------------------------------------------------------------------

def stitch_rings(segments: list[np.ndarray]) -> list[np.ndarray]:
    """Chain open ways into closed rings by endpoint matching, allowing
    reversal; iteratively seeds a new ring from any unused segment
    (reference src/osm_store.cpp:123-227 semantics). Unclosable leftovers
    are dropped. Returns list of closed (N,2) rings."""
    return [r for r in G.chain_segments(
        segments, lambda start, end, npts: start == end)
        if len(r) >= 4 and tuple(r[0]) == tuple(r[-1])]


def assign_holes(outers: list[np.ndarray],
                 inners: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Assign each hole to the outer containing its first vertex; skip the
    containment test when there is a single outer (reference optimization).
    Winding fixed: outer CCW (positive planar area), holes CW."""
    polys = []
    for o in outers:
        if G.signed_ring_area_planar(o) < 0:
            o = o[::-1]
        polys.append([o])
    for h in inners:
        if G.signed_ring_area_planar(h) > 0:
            h = h[::-1]
        if len(polys) == 1:
            polys[0].append(h)
            continue
        px = np.asarray([h[0, 0]])
        py = np.asarray([h[0, 1]])
        for p in polys:
            if G.points_in_ring(px, py, p[0])[0]:
                p.append(h)
                break
    return polys
