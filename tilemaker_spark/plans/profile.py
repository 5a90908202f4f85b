"""Profiles: declarative per-entity feature rules.

The reference's "query language" is a per-row Lua flatMap (reference
src/osm_lua_processing.cpp:1076-1239: node_function / way_function run
once per entity and emit 0..N (layer, geomType, attributes) rows).  Here
a profile is a list of :class:`LayerRule` objects, and all the rules
over one entity table compile to ONE projection of it: an ``explode``
of the non-null ``when(match, struct)`` elements, one per rule — each
table is read once, with zero per-row Python (SURVEY.md §2.9 tier 1).

Tag predicates map 1:1 to the reference host functions:
``Find(k)`` -> ``element_at(tags, k)``; ``Holds(k)`` ->
``map_contains_key``; ``IsClosed()`` -> the assembled ``is_closed``
column; ``Attribute(...)`` -> entries of the ``attrs`` map column.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
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


# LayerRule.source -> (Profile.apply argument, feature kind, a column that
# must hold besides the rule's match, SQL for the geom.PACKED columns)
_SOURCES = {
    "node": ("nodes", G.POINT, None, (
        "array(lon, lat)", "array(1)", "cast(array() as array<int>)")),
    "way_line": ("way_geoms", G.LINESTRING, None, (
        "coords", "array(int(size(coords) / 2))",
        "cast(array() as array<int>)")),
    "way_area": ("way_geoms", G.POLYGON, "is_closed", (
        "coords", "array(int(size(coords) / 2))", "array(1)")),
    "relation": ("rel_geoms", G.POLYGON, None, G.PACKED),
}

# LayerRule.centroid_algorithm -> label point of an unpacked multipolygon
_LABEL_POINT = {
    "polylabel": lambda mp: G.polylabel(max(mp, key=lambda p: abs(
        G.signed_ring_area_planar(p[0])))),
    "centroid": G.multipolygon_centroid,
}

# per-row LayerAsCentroid fields: algorithm, role-member label point
_LABEL_COLS = ("_centroid", "_label")


def _polygons_to_label_points(features: DataFrame) -> DataFrame:
    """LayerAsCentroid: replace the geometry of each row whose
    ``_centroid`` names an algorithm with its label point (reference
    src/osm_lua_processing.cpp:749-943): ``_label`` if non-null (the
    role-member path), else the algorithm's point.  Rows with a null
    ``_centroid`` pass through; both columns are dropped."""
    schema = StructType([f for f in features.schema.fields
                         if f.name not in _LABEL_COLS])

    def gen(batches):
        for batch in batches:
            algos, labels = (batch.column(c).to_pylist()
                             for c in _LABEL_COLS)
            # each LayerAsCentroid row's label point, None on the others
            pts = [algo and (label or list(_LABEL_POINT[algo](
                G.unpack(G.POLYGON, coords, rs, prc))))
                for algo, label, coords, rs, prc in zip(
                    algos, labels, *G.packed_views(batch))]
            n = batch.num_rows
            point = {"kind": [G.POINT] * n, "coords": pts,
                     "ring_sizes": [[1]] * n, "poly_ring_counts": [[]] * n}
            is_label = pc.is_valid(batch.column("_centroid"))
            cols = [batch.column(f.name) for f in schema]
            yield pa.RecordBatch.from_arrays(
                [pc.if_else(is_label, pa.array(point[f.name], c.type), c)
                 if f.name in point else c for f, c in zip(schema, cols)],
                names=schema.names)

    return features.mapInArrow(gen, schema)


def _with_label_points(rel_geoms: DataFrame, relations: DataFrame,
                       nodes: DataFrame, roles: tuple,
                       name: str) -> DataFrame:
    """``rel_geoms`` plus column ``name``: the [lon, lat] of each
    relation's best label member node (null if it has none).  Node
    members whose role matches ``roles`` qualify, preferred in the order
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
                     F.array("lon", "lat").alias(name)),
        on="_nid", how="inner")
    w = Window.partitionBy("_rid").orderBy("_pri", "_nid")
    best = (mem.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).select("_rid", name))
    return rel_geoms.join(best, F.col("id") == F.col("_rid"),
                          "left").drop("_rid")


def _feature_struct(rule: LayerRule, kind: int, packed: tuple,
                    algorithm: str | None, label: str | None) -> Column:
    """One feature row of ``rule`` as a struct: FEATURE_SCHEMA's columns
    plus the ``_LABEL_COLS`` (``label`` names a rel_geoms column)."""
    def col(v):    # a LayerRule field: Column factory or constant
        return v() if callable(v) else F.lit(v)

    attrs = F.create_map(*[c for k, v in rule.attrs.items()
                           for c in (F.lit(k), v().cast("string"))])
    return F.struct(
        col(rule.feature_id or F.col("id")).cast("long").alias("feature_id"),
        F.lit(rule.layer).alias("layer"),
        F.lit(kind).cast("tinyint").alias("kind"),
        col(rule.minzoom).cast("int").alias("minzoom"),
        col(rule.zorder).cast("long").alias("zorder"),
        F.map_filter(attrs.cast("map<string,string>"),
                     lambda k, v: v.isNotNull() & (v != "")).alias("attrs"),
        *[F.expr(sql).alias(c) for c, sql in zip(G.PACKED, packed)],
        F.lit(algorithm).cast("string").alias("_centroid"),
        (F.col(label) if label else F.lit(None).cast("array<double>"))
        .alias("_label"),
    )


class Profile:
    def __init__(self, rules: list[LayerRule]):
        self.rules = rules

    def apply(self, nodes: DataFrame | None = None,
              way_geoms: DataFrame | None = None,
              rel_geoms: DataFrame | None = None,
              relations: DataFrame | None = None) -> DataFrame:
        """Build the features table from entity DataFrames: each table's
        rules run in one projection, so rows come out grouped by table.

        nodes: (id, lon, lat, tags); way_geoms: assembly output
        (id, tags, coords, is_closed, ...); rel_geoms: multipolygon
        assembly output (id, tags, coords, ring_sizes, poly_ring_counts);
        relations: raw relations (id, members, tags) — needed only for
        rules with ``centroid_roles`` (role-based label members).
        """
        tables = {"nodes": nodes, "way_geoms": way_geoms,
                  "rel_geoms": rel_geoms}
        labels: dict[tuple, str] = {}  # centroid_roles -> rel_geoms column
        if rel_geoms is not None and relations is not None \
                and nodes is not None:
            for roles in dict.fromkeys(
                    r.centroid_roles for r in self.rules
                    if r.source == "relation" and r.as_centroid
                    and r.centroid_roles):
                labels[roles] = name = f"_label{len(labels)}"
                tables["rel_geoms"] = _with_label_points(
                    tables["rel_geoms"], relations, nodes, roles, name)
        rows: dict[str, list[Column]] = {}
        any_centroid = False
        for rule in self.rules:
            table, kind, guard, packed = _SOURCES[rule.source]
            if tables[table] is None:
                continue
            algo = (rule.centroid_algorithm
                    if rule.as_centroid and kind == G.POLYGON else None)
            if algo is not None and algo not in _LABEL_POINT:
                raise ValueError(f"unknown centroid algorithm: {algo}")
            any_centroid |= algo is not None
            match = rule.match()
            match = match if guard is None else F.col(guard) & match
            label = labels.get(rule.centroid_roles) \
                if table == "rel_geoms" else None
            rows.setdefault(table, []).append(F.when(
                match, _feature_struct(rule, kind, packed, algo, label)))
        if not rows:
            raise ValueError("profile emitted no rules for given inputs")
        res = reduce(DataFrame.unionByName, [
            tables[table].select(F.explode(F.array_compact(F.array(*structs)))
                                 .alias("f")).select("f.*")
            for table, structs in rows.items()])
        if any_centroid:
            return _polygons_to_label_points(res)
        return res.drop(*_LABEL_COLS)


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
