"""Profiles: declarative per-entity feature rules.

The reference's "query language" is a per-row Lua flatMap
(/root/reference/src/osm_lua_processing.cpp:1076-1239: node_function /
way_function emit 0..N (layer, geomType, attributes) rows).  Here a
profile is a list of :class:`LayerRule` objects that compile to one
``select+filter+union`` plan per rule — fully Catalyst-optimizable,
zero per-row Python (SURVEY.md §2.9 tier 1).

Tag predicates map 1:1 to the reference host functions:
``Find(k)`` -> ``element_at(tags, k)``; ``Holds(k)`` ->
``map_contains_key``; ``IsClosed()`` -> the assembled ``is_closed``
column; ``Attribute(...)`` -> entries of the ``attrs`` map column.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..kernels import geom as G


def find(key: str) -> Column:
    """Lua Find(k): tag value or '' (reference osm_lua_processing.cpp:163)."""
    return F.coalesce(F.col("tags").getItem(key), F.lit(""))


def holds(key: str) -> Column:
    """Lua Holds(k): tag key present with non-empty value."""
    return F.col("tags").getItem(key).isNotNull() & (
        F.col("tags").getItem(key) != "")


def significant_tags(filters: list[str]) -> Column:
    """The node_keys / way_keys significant-tag filter as a Column
    predicate (reference src/significant_tags.cpp:5-90).

    Filters are ``[~]key[=value]``, all of one polarity:
    * accept mode (no ``~``): entity passes if at least one of its tags
      matches some filter;
    * reject mode (``~``): entity passes if at least one of its tags is
      NOT matched by any filter (e.g. ``["~building"]`` = everything
      except building-only entities).
    """
    if not filters:
        return F.lit(False)
    parsed = []
    accept = not filters[0].startswith("~")
    for raw in filters:
        neg = raw.startswith("~")
        if neg != (not accept):
            raise ValueError(
                f"cannot mix reject and accept filters: {filters}")
        body = raw[1:] if neg else raw
        key, _, val = body.partition("=")
        parsed.append((key, val))

    def tag_matches_any(e):
        conds = None
        for key, val in parsed:
            c = e["key"] == F.lit(key)
            if val:
                c = c & (e["value"] == F.lit(val))
            conds = c if conds is None else (conds | c)
        return conds

    entries = F.map_entries(F.col("tags"))
    if accept:
        return F.exists(entries, tag_matches_any)
    return F.exists(entries, lambda e: ~tag_matches_any(e))


@dataclass
class LayerRule:
    """One feature-emission rule: WHERE match -> emit into layer."""
    layer: str
    source: str                      # node | way_line | way_area | relation
    match: Callable[[], Column]      # predicate over the entity row
    attrs: dict[str, Callable[[], Column]] = field(default_factory=dict)
    minzoom: Callable[[], Column] | int = 0
    zorder: Callable[[], Column] | int = 0
    # LayerAsCentroid (reference src/osm_lua_processing.cpp:749-863): emit
    # a label point instead of the polygon geometry; valid for way_area /
    # relation sources
    as_centroid: bool = False
    # Centroid algorithm choice (reference :865-943,
    # parseCentroidAlgorithm): "polylabel" (default, pole of
    # inaccessibility) or "centroid" (boost-style area centroid)
    centroid_algorithm: str = "polylabel"
    # LayerAsCentroid(layer, role1, role2...): for relation sources, take
    # the label point from a member NODE whose role matches, in preference
    # order (reference :749-812 — e.g. "label", "admin_centre"); fall back
    # to centroid_algorithm when no member matches
    centroid_roles: tuple = ()
    # ModifyId analogue (reference rawModifyId): override the emitted
    # feature id with a Column expression over the entity row
    feature_id: Callable[[], Column] | None = None


def get_data_expr(data: dict[str, str]) -> Callable[[Column], Column]:
    """GetData analogue (reference src/osm_lua_processing.cpp:203-210):
    the Lua API's small external k/v store, exposed as a map-literal
    Column lookup usable inside rule lambdas::

        lookup = get_data_expr({"FR": "France", "MC": "Monaco"})
        attrs={"name_en": lambda: lookup(find("ISO3166-1"))}

    The dict is embedded in the plan as a literal (Catalyst broadcasts it
    with the plan — the right shape for the small tables SetData holds).
    For large tables use a broadcast dim-table join instead."""
    if not data:
        return lambda key: F.lit(None).cast("string")
    m = F.create_map(*[F.lit(x) for kv in data.items() for x in kv])
    return lambda key: F.element_at(m, key)


def collect_data(df: DataFrame, key_col: str, val_col: str,
                 max_rows: int = 100_000) -> dict[str, str]:
    """SetData analogue: materialize a SMALL (key, value) DataFrame —
    typically produced during a relation pre-scan — into the dict that
    :func:`get_data_expr` embeds.  The reference's SetData writes to an
    in-memory map during RelationScan (osm_lua_processing.cpp:203-206);
    this is the same driver-side store with an explicit size guard."""
    rows = df.select(key_col, val_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"collect_data: >{max_rows} rows; use a broadcast join for "
            "large external tables")
    return {r[0]: r[1] for r in rows}


def used_closure(nodes: DataFrame, ways: DataFrame,
                 relations: DataFrame | None = None,
                 node_filter: Column | None = None,
                 way_filter: Column | None = None,
                 relation_pred: Column | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Scan-pruning transitive closure (reference usedNodes/usedWays,
    include/osm_store.h:270-300 + the way_keys phase of
    src/pbf_processor.cpp:179-230): used ways = way_keys-passing ways
    UNION way-members of accepted relations; used nodes = node_keys-
    passing nodes UNION refs of used ways.  Explicit left_semi joins so
    the node table is pruned BEFORE assembly — at planet scale most
    nodes are untagged vertices whose only consumers are the used ways.

    Returns (nodes_used, ways_used)."""
    w = ways.filter(way_filter) if way_filter is not None else ways
    if relations is not None and relation_pred is not None:
        rel_way_ids = relations.filter(relation_pred).select(
            F.explode(F.filter(
                "members", lambda m: m["mtype"] == F.lit(1))).alias("m")
        ).select(F.col("m.ref").alias("id")).distinct()
        w = ways.join(rel_way_ids, "id", "left_semi").unionByName(
            w).dropDuplicates(["id"])
    used_node_ids = w.select(F.explode("refs").alias("id")).distinct()
    n = nodes.join(used_node_ids, "id", "left_semi")
    if node_filter is not None:
        n = nodes.filter(node_filter).unionByName(n).dropDuplicates(["id"])
    return n, w


def _polygons_to_label_points(features: DataFrame,
                              algorithm: str = "polylabel",
                              label_cols: tuple | None = None) -> DataFrame:
    """LayerAsCentroid: replace each polygon feature's geometry with its
    label point (reference src/osm_lua_processing.cpp:749-943).

    algorithm="polylabel": pole of inaccessibility of the largest-area
    polygon (the reference's polylabel_macro / default).
    algorithm="centroid": boost-style area centroid of the whole
    multipolygon (CentroidAlgorithm::Centroid).
    label_cols=(lon_col, lat_col): rows where these are non-null take the
    pre-resolved role-member label point instead (reference's node-member
    role path); the columns are dropped from the output."""
    if algorithm not in ("polylabel", "centroid"):
        raise ValueError(f"unknown centroid algorithm: {algorithm}")
    schema = StructType([f for f in features.schema.fields
                         if label_cols is None or f.name not in label_cols])

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            pts = np.full((n, 2), np.nan)
            if label_cols is not None:  # a null label reads as NaN
                pts[:, 0] = np.asarray(batch.column(label_cols[0]))
                pts[:, 1] = np.asarray(batch.column(label_cols[1]))
            coords, rs, prc = G.packed_views(batch)
            for i in np.flatnonzero(np.isnan(pts[:, 0])):
                mp = G.unpack(G.POLYGON, coords[i], rs[i], prc[i])
                if algorithm == "centroid":
                    pts[i] = G.multipolygon_centroid(mp)
                else:
                    pts[i] = G.polylabel(max(mp, key=lambda p: abs(
                        G.signed_ring_area_planar(p[0]))))
            ints = pa.list_(pa.int32())
            point = {"kind": pa.array([G.POINT] * n, pa.int8()),
                     "coords": pa.array(list(pts), pa.list_(pa.float64())),
                     "ring_sizes": pa.array([[1]] * n, ints),
                     "poly_ring_counts": pa.array([[]] * n, ints)}
            yield pa.RecordBatch.from_arrays(
                [point.get(f.name, batch.column(f.name)) for f in schema],
                names=schema.names)

    return features.mapInArrow(gen, schema)


class Profile:
    def __init__(self, rules: list[LayerRule]):
        self.rules = rules

    def _emit(self, df: DataFrame, rule: LayerRule, kind: int,
              coords: Column, ring_sizes: Column,
              poly_counts: Column, extra_cols: tuple = ()) -> DataFrame:
        mz = rule.minzoom() if callable(rule.minzoom) else F.lit(rule.minzoom)
        zo = rule.zorder() if callable(rule.zorder) else F.lit(rule.zorder)
        if rule.attrs:
            attr_col = F.map_filter(
                F.map_from_arrays(
                    F.array(*[F.lit(k) for k in rule.attrs]),
                    F.array(*[v().cast("string") for v in rule.attrs.values()]),
                ),
                lambda k, v: v.isNotNull() & (v != ""),
            )
        else:
            attr_col = F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>"))
        fid = (rule.feature_id() if rule.feature_id is not None
               else F.col("id"))
        return df.filter(rule.match()).select(
            fid.cast("long").alias("feature_id"),
            F.lit(rule.layer).alias("layer"),
            F.lit(kind).cast("tinyint").alias("kind"),
            mz.cast("int").alias("minzoom"),
            zo.cast("long").alias("zorder"),
            attr_col.alias("attrs"),
            coords.alias("coords"),
            ring_sizes.alias("ring_sizes"),
            poly_counts.alias("poly_ring_counts"),
            *[F.col(c) for c in extra_cols],
        )

    def _label_member_points(self, relations: DataFrame, nodes: DataFrame,
                             roles: tuple) -> DataFrame:
        """Per relation, the lon/lat of its best label member node:
        node members whose role matches ``roles``, preferred in the order
        given, ties broken by member ref (reference
        src/osm_lua_processing.cpp:749-812)."""
        from pyspark.sql import Window
        pref = F.array(*[F.lit(r) for r in roles])
        mem = (
            relations.select(F.col("id").alias("_rid"),
                             F.explode("members").alias("m"))
            .filter((F.col("m.mtype") == F.lit(0))
                    & F.col("m.role").isin(*roles))
            .select("_rid", F.col("m.ref").alias("_nid"),
                    F.array_position(pref, F.col("m.role")).alias("_pri"))
        )
        mem = mem.join(
            nodes.select(F.col("id").alias("_nid"),
                         F.col("lon").alias("_label_lon"),
                         F.col("lat").alias("_label_lat")),
            on="_nid", how="inner")
        w = Window.partitionBy("_rid").orderBy("_pri", "_nid")
        return (mem.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("_rid", "_label_lon", "_label_lat"))

    def apply(self, nodes: DataFrame | None = None,
              way_geoms: DataFrame | None = None,
              rel_geoms: DataFrame | None = None,
              relations: DataFrame | None = None) -> DataFrame:
        """Build the features table from entity DataFrames.

        nodes: (id, lon, lat, tags); way_geoms: assembly output
        (id, tags, coords, is_closed, ...); rel_geoms: multipolygon
        assembly output (id, tags, coords, ring_sizes, poly_ring_counts);
        relations: raw relations (id, members, tags) — needed only for
        rules with ``centroid_roles`` (role-based label members).
        """
        outs: list[DataFrame] = []
        empty_i = F.array().cast("array<int>")
        for rule in self.rules:
            if rule.source == "node" and nodes is not None:
                outs.append(self._emit(
                    nodes, rule, G.POINT,
                    F.array("lon", "lat"),
                    F.array(F.lit(1)), empty_i))
            elif rule.source == "way_line" and way_geoms is not None:
                outs.append(self._emit(
                    way_geoms, rule, G.LINESTRING,
                    F.col("coords"),
                    F.array((F.size("coords") / 2).cast("int")), empty_i))
            elif rule.source == "way_area" and way_geoms is not None:
                closed = way_geoms.filter(F.col("is_closed"))
                emitted = self._emit(
                    closed, rule, G.POLYGON,
                    F.col("coords"),
                    F.array((F.size("coords") / 2).cast("int")),
                    F.array(F.lit(1)))
                outs.append(_polygons_to_label_points(
                    emitted, algorithm=rule.centroid_algorithm)
                    if rule.as_centroid else emitted)
            elif rule.source == "relation" and rel_geoms is not None:
                src = rel_geoms
                label_cols = None
                if (rule.as_centroid and rule.centroid_roles
                        and relations is not None and nodes is not None):
                    best = self._label_member_points(
                        relations, nodes, rule.centroid_roles)
                    src = rel_geoms.join(
                        best, rel_geoms["id"] == best["_rid"], "left"
                    ).drop("_rid")
                    label_cols = ("_label_lon", "_label_lat")
                emitted = self._emit(
                    src, rule, G.POLYGON,
                    F.col("coords"), F.col("ring_sizes"),
                    F.col("poly_ring_counts"),
                    extra_cols=label_cols or ())
                outs.append(_polygons_to_label_points(
                    emitted, algorithm=rule.centroid_algorithm,
                    label_cols=label_cols)
                    if rule.as_centroid else emitted)
        if not outs:
            raise ValueError("profile emitted no rules for given inputs")
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res


def openmaptiles_lite() -> tuple[Profile, "Config"]:
    """A small OpenMapTiles-style profile covering the fixture's layer mix
    (modeled on the reference's resources/config-openmaptiles.json zoom and
    simplify parameters; rules simplified to the tags monaco exercises)."""
    from ..config import Config, LayerDef

    rules = [
        LayerRule(
            layer="transportation", source="way_line",
            match=lambda: holds("highway"),
            attrs={"class": lambda: find("highway")},
            minzoom=lambda: F.when(
                find("highway").isin("motorway", "trunk", "primary"), F.lit(4)
            ).when(
                find("highway").isin("secondary", "tertiary"), F.lit(9)
            ).otherwise(F.lit(12)),
            zorder=lambda: F.when(find("highway") == "motorway", F.lit(380))
            .when(find("highway") == "trunk", F.lit(370))
            .when(find("highway") == "primary", F.lit(360))
            .when(find("highway") == "secondary", F.lit(350))
            .otherwise(F.lit(340)),
        ),
        LayerRule(
            layer="building", source="way_area",
            match=lambda: holds("building"),
            minzoom=13,
        ),
        LayerRule(
            layer="water", source="way_area",
            match=lambda: (find("natural") == "water")
            | (find("waterway") == "riverbank") | (find("landuse") == "basin"),
            attrs={"class": lambda: F.lit("lake")},
        ),
        LayerRule(
            layer="water", source="relation",
            match=lambda: (find("natural") == "water")
            | (find("type") == "multipolygon") & (find("water") != ""),
            attrs={"class": lambda: F.lit("lake")},
        ),
        LayerRule(
            layer="landuse", source="way_area",
            match=lambda: holds("landuse") | holds("leisure"),
            attrs={"class": lambda: F.when(holds("landuse"), find("landuse"))
                   .otherwise(find("leisure"))},
            minzoom=9,
        ),
        LayerRule(
            layer="poi", source="node",
            match=lambda: holds("amenity") | holds("shop") | holds("tourism"),
            attrs={
                "class": lambda: F.when(holds("amenity"), find("amenity"))
                .when(holds("shop"), find("shop")).otherwise(find("tourism")),
                "name": lambda: find("name"),
            },
            minzoom=14,
        ),
        LayerRule(
            layer="place", source="node",
            match=lambda: holds("place"),
            attrs={"class": lambda: find("place"),
                   "name": lambda: find("name")},
            minzoom=lambda: F.when(find("place").isin("city", "town"),
                                   F.lit(4)).otherwise(F.lit(10)),
        ),
    ]
    cfg = Config(layers={
        "transportation": LayerDef("transportation", minzoom=4, maxzoom=14,
                                   simplify_below=13, simplify_level=0.0003,
                                   combine_lines_below=13),
        "building": LayerDef("building", minzoom=13, maxzoom=14),
        "water": LayerDef("water", minzoom=0, maxzoom=14,
                          simplify_below=12, simplify_level=0.0005,
                          filter_below=12, filter_area=0.5),
        "landuse": LayerDef("landuse", minzoom=9, maxzoom=14,
                            simplify_below=12, simplify_level=0.0003),
        "poi": LayerDef("poi", minzoom=14, maxzoom=14, feature_limit=200,
                        feature_limit_below=15),
        "place": LayerDef("place", minzoom=0, maxzoom=14),
    })
    return Profile(rules), cfg
