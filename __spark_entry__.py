"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data graft ops); each has an ``oracle_sql()``
twin in ANSI SQL for DuckDB.  Both are derived from ``REGISTRY``, the one
table of query membership, whose rows also carry bench.py's bench flag
and the plan budgets ``tests/test_plan_audit.py`` gates.  Geospatial
queries derive deterministic (lon, lat) from TPC-H keys with an integer
LCG that is emitted both as a Spark Column expression and as SQL text
from one spec (``tilemaker_spark.sources.synth``), so Spark and DuckDB
compute bit-identical coordinates.

Column-naming rule: every computed column is aliased identically on both
sides (driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from tilemaker_spark import lineage
from tilemaker_spark.sql import tile_exprs as TE
from tilemaker_spark.sources import synth
from tilemaker_spark.operators import (
    components as components_ops,
    dedup as dedup_ops,
    knn as knn_ops,
    similarity as sim_ops,
    spatial_join,
    substrings as substrings_ops,
    temporal as temporal_ops,
    text as text_ops,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _customer_points(spark, sf_dir):
    """Customers with deterministic synthetic geotags (LCG on c_custkey)."""
    c = _t(spark, sf_dir, "customer")
    lon, lat = synth.geo_point_expr(F.col("c_custkey"))
    return c.select("c_custkey", "c_nationkey",
                    "c_acctbal", "c_mktsegment",
                    lon.alias("lon"), lat.alias("lat"))


CUST_LON, CUST_LAT = synth.geo_point_sql("c_custkey")
ORD_LON, ORD_LAT = synth.geo_point_sql("o_orderkey")


def _nation_boxes(spark, sf_dir):
    """Nations as a deterministic 5x5 grid of lon/lat boxes with packed-ring
    polygon geometry (the polygon-layer fixture)."""
    n = _t(spark, sf_dir, "nation")
    b = synth.nation_boxes_expr(F.col("n_nationkey"))
    coords = F.array(
        b["minlon"], b["minlat"], b["maxlon"], b["minlat"],
        b["maxlon"], b["maxlat"], b["minlon"], b["maxlat"],
        b["minlon"], b["minlat"],
    )
    return n.select(
        F.col("n_nationkey").alias("poly_id"),
        F.col("n_name"),
        coords.alias("coords"),
        F.array(F.lit(5)).alias("ring_sizes"),
        F.array(F.lit(1)).alias("poly_ring_counts"),
        b["minlon"].alias("minlon"), b["minlat"].alias("minlat"),
        b["maxlon"].alias("maxlon"), b["maxlat"].alias("maxlat"),
    )


NB = synth.nation_boxes_sql_parts("n_nationkey")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_tile_assign(spark, sf_dir):
    """Point -> z/x/y tile assignment (kernel of the tiling engine;
    reference src/coordinates.cpp:27-41) + per-tile counts."""
    pts = _customer_points(spark, sf_dir)
    z = 13
    return (
        pts.select(
            TE.lon2tilex(F.col("lon"), z).alias("x"),
            TE.lat2tiley(F.col("lat"), z).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
    )


def sql_tile_assign():
    return f"""
SELECT {TE.lon2tilex_sql(CUST_LON, 13)} AS x,
       {TE.lat2tiley_sql(CUST_LAT, 13)} AS y,
       count(*) AS n
FROM customer GROUP BY 1, 2
"""


def q_quadkey(spark, sf_dir):
    """Bing quadkey tile keys + the prefix property in one query
    (sql/tile_exprs.quadkey): points -> z12 tiles -> 12-digit quadkey
    strings, rolled up by their z6 PREFIX (substring, no re-projection
    — that is the point of the encoding: ancestor keys are prefixes,
    so pyramid rollups and tile-range scans become string-prefix
    operations on a sorted layout).  Pure Catalyst bit math + one
    groupBy; the oracle runs character-identical SQL."""
    pts = _customer_points(spark, sf_dir)
    z = 12
    t = pts.select(
        TE.lon2tilex(F.col("lon"), z).alias("x"),
        TE.lat2tiley(F.col("lat"), z).alias("y"))
    q = t.select(TE.quadkey(F.col("x"), F.col("y"), z).alias("qk"))
    return (q.groupBy(F.substring("qk", 1, 6).alias("qk6"))
            .agg(F.count(F.lit(1)).alias("n_pts"),
                 F.countDistinct("qk").alias("n_tiles")))


def sql_quadkey():
    z = 12
    from tilemaker_spark.sql import tile_exprs as TEx
    return f"""
WITH pts AS (SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer),
t AS (SELECT {TEx.lon2tilex_sql('lon', z)} AS x,
             {TEx.lat2tiley_sql('lat', z)} AS y FROM pts),
q AS (SELECT {TEx.quadkey_sql('x', 'y', z)} AS qk FROM t)
SELECT substring(qk, 1, 6) AS qk6, count(*) AS n_pts,
       count(DISTINCT qk) AS n_tiles
FROM q GROUP BY qk6
"""


def q_geohash(spark, sf_dir):
    """Geohash spatial index (sql/tile_exprs.geohash — Niemeyer 2008,
    verified against the published 'ezs42' fixtures): points -> 6-char
    base-32 geohashes, rolled up by their 3-char PREFIX (like the
    quadkey, an ancestor's hash prefixes all descendants', so
    proximity/pyramid queries are string-prefix scans).  Pure Catalyst
    bit interleave + alphabet slicing, zero UDF; the oracle runs the
    character-identical SQL twin."""
    pts = _customer_points(spark, sf_dir)
    g = pts.select(TE.geohash(F.col("lon"), F.col("lat"), 6).alias("gh"))
    return (g.groupBy(F.substring("gh", 1, 3).alias("gh3"))
            .agg(F.count(F.lit(1)).alias("n_pts"),
                 F.countDistinct("gh").alias("n_cells")))


def sql_geohash():
    from tilemaker_spark.sql import tile_exprs as TEx
    return f"""
WITH pts AS (SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat FROM customer),
g AS (SELECT {TEx.geohash_sql('lon', 'lat', 6)} AS gh FROM pts)
SELECT substring(gh, 1, 3) AS gh3, count(*) AS n_pts,
       count(DISTINCT gh) AS n_cells
FROM g GROUP BY gh3
"""


def q_cell_index(spark, sf_dir):
    """Coarse-cell (H3-coarse analogue, z6 packed id) partition-key
    distribution over order points — the table-layout key of the engine."""
    o = _t(spark, sf_dir, "orders")
    lon, lat = synth.geo_point_expr(F.col("o_orderkey"))
    return (
        o.select(TE.cell_id(lon, lat, 6).alias("cell"))
        .groupBy("cell").agg(F.count("*").alias("n"))
    )


def q_zorder_layout(spark, sf_dir):
    """Morton/Z-order layout key (operators/layout.py): interleave the
    z12 tile x/y bits into the clustering key a range partition sorts
    on — the data-skipping layout a 100 TB spatial table is written in
    (Delta/Iceberg OPTIMIZE ZORDER analogue).  Pure Catalyst bit arithmetic; the
    oracle runs the identical magic-number spread in SQL."""
    from tilemaker_spark.operators import layout as layout_ops
    c = _t(spark, sf_dir, "customer")
    lon, lat = synth.geo_point_expr(F.col("c_custkey"))
    clon = F.greatest(F.lit(-179.5), F.least(F.lit(179.5), lon))
    clat = F.greatest(F.lit(-84.0), F.least(F.lit(84.0), lat))
    return c.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        layout_ops.zorder_key(clon, clat, zoom=12).alias("zkey"))


def sql_zorder_layout():
    from tilemaker_spark.operators import layout as layout_ops
    clon = f"greatest(-179.5, least(179.5, {CUST_LON}))"
    clat = f"greatest(-84.0, least(84.0, {CUST_LAT}))"
    return f"""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST({layout_ops.zorder_key_sql(clon, clat, 12)} AS BIGINT) AS zkey
FROM customer
"""


def sql_cell_index():
    from tilemaker_spark.sql.tile_exprs import cell_id_sql
    return f"""
SELECT {cell_id_sql(ORD_LON, ORD_LAT, 6)} AS cell, count(*) AS n
FROM orders GROUP BY 1
"""


def q_hex_index(spark, sf_dir):
    """Hexagonal cell index (the H3 analogue the BASELINE north star keys
    tables by): pointy-top axial hex binning on the Mercator-degree plane
    with cube rounding, packed into one int64 — pure Catalyst expressions
    (zero UDF), SQL twin mirrored literal-for-literal."""
    o = _t(spark, sf_dir, "orders")
    lon, lat = synth.geo_point_expr(F.col("o_orderkey"))
    return (
        o.select(TE.hex_cell_id(lon, lat, 6).alias("cell"))
        .groupBy("cell").agg(F.count("*").alias("n"))
    )


def sql_hex_index():
    ctes = TE.hex_cell_sql_ctes(ORD_LON, ORD_LAT, "orders", 6)
    return f"""
WITH {ctes}
SELECT cell, count(*) AS n FROM hexfin GROUP BY 1
"""


def q_s2_cells(spark, sf_dir):
    """S2-analogue cell index (sql/tile_exprs.py with_s2_cell — the other
    half of the north star's "H3/S2 cells" alongside hex_cell_id): cube
    face via dominant sphere axis, gnomonic (u,v), linear st, per-face
    Hilbert position — all pure Catalyst (trig + one F.aggregate bit
    fold, zero UDF, whole-stage codegen).  Groups the skewed synthetic
    order points by level-9 cell AND its level-5 ancestor (the parent
    relation is pure bit math: hilbert position >> 2*dz, bit-exactness
    property-tested in tests/test_s2.py), so the oracle checks both the
    cell id and the subdivision contract cross-engine."""
    o = _t(spark, sf_dir, "orders")
    lon, lat = synth.geo_point_expr(F.col("o_orderkey"))
    pts = o.select(lon.alias("lon"), lat.alias("lat"))
    cells = TE.with_s2_cell(pts, "lon", "lat", 9, out="cell")
    return (
        cells.select("cell",
                     TE.s2_cell_parent(F.col("cell"), 9, 4).alias("parent"))
        .groupBy("cell", "parent").agg(F.count("*").alias("n"))
    )


def sql_s2_cells():
    ctes = TE.s2_sql_ctes(ORD_LON, ORD_LAT, "orders", 9)
    shift = 1 << (2 * 9)
    pshift = 1 << (2 * 5)
    return f"""
WITH RECURSIVE {ctes}
SELECT cell,
       (cell // {shift}) * {pshift} + ((cell % {shift}) // {1 << 8})
         AS parent,
       count(*) AS n
FROM s2fin GROUP BY 1, 2
"""


def q_adaptive_cells(spark, sf_dir):
    """Adaptive quadtree binning (operators/quadtree.py — the
    declarative form of the reference's per-zoom tile cost model,
    src/tilemaker.cpp:463-481, and the BASELINE's skewed-urban-tiles
    concern): split every cell until it holds <= 100 points or z=9,
    over the 80/20 urban-skewed synthetic order points.  Cell counts
    are monotone up the tree, so the iterative split-recount fixpoint
    collapses to a closed form — leaf z = smallest level whose
    enclosing count clears the cap — needing the DATA only once (one
    finest-level count shuffle); coarser counts are rollups of the
    counts table and broadcast back.  Output: one row per non-empty
    variable-depth leaf (z, x, y, n), the load-bounded partitioning a
    skew-free spatial join keys on."""
    from tilemaker_spark.operators.quadtree import adaptive_cells
    o = _t(spark, sf_dir, "orders")
    lon, lat = synth.geo_point_expr(F.col("o_orderkey"))
    pts = o.select(lon.alias("lon"), lat.alias("lat"))
    return adaptive_cells(pts, z_coarse=3, z_max=9, cap=100)


def sql_adaptive_cells():
    from tilemaker_spark.operators.quadtree import adaptive_cells_oracle_sql
    return adaptive_cells_oracle_sql(
        "orders", ORD_LON, ORD_LAT, z_coarse=3, z_max=9, cap=100)


def q_geo_corpus(spark, sf_dir):
    """The graft composition: geo-partitioned IMAGE corpus rollup.
    assign_adaptive (operators/quadtree.py) labels every image of the
    BASELINE-shaped table with its load-bounded adaptive leaf cell
    (urban clusters split deep, ocean stays coarse — the skew answer),
    then per-leaf corpus statistics: image count, total pixels, min
    phash.  Data path: one fine-count shuffle inside the mapping build
    + a broadcast map-side join + one rollup on the (bounded) leaf key
    — the skewed lon/lat distribution never hits a hash exchange raw.
    Metadata-only (6,000 rows, with_bytes=False): this is the layout
    decision pass, it must not pay for pixels."""
    from tilemaker_spark.operators.quadtree import assign_adaptive
    img = synth.images_df(spark, 6000, with_bytes=False, partitions=8)
    a = assign_adaptive(img, "lon", "lat", z_coarse=3, z_max=8, cap=200)
    return (a.groupBy("z", "x", "y")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum(F.col("w").cast("long")
                       * F.col("h").cast("long")).alias("total_px"),
                 F.min("phash").alias("min_phash")))


def sql_geo_corpus():
    from tilemaker_spark.operators.quadtree import (
        assign_adaptive_oracle_ctes)
    lon, lat = synth.geo_point_sql("k")
    img = f"""(
  WITH r AS (SELECT unnest(generate_series(0, 5999)) AS k)
  SELECT k, {lon} AS lon, {lat} AS lat,
         16 + (k % 5) * 8 AS w, 16 + ((k + 2) % 4) * 8 AS h,
         ((k * {synth.A2} + {synth.C2}) % {synth.M32}) * 65537
           % (1::BIGINT << 62) AS phash
  FROM r
)"""
    ctes = assign_adaptive_oracle_ctes(img, "lon", "lat",
                                       z_coarse=3, z_max=8, cap=200)
    return f"""
WITH {ctes}
SELECT z, x, y, count(*) AS n_images,
       CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS total_px,
       min(phash) AS min_phash
FROM assigned GROUP BY 1, 2, 3
"""


def q_pip_broadcast(spark, sf_dir):
    """Point-in-polygon join, broadcast filter-refine path (reference
    Intersects/FindIntersecting, src/osm_lua_processing.cpp:409-465)."""
    pts = _customer_points(spark, sf_dir).select("c_custkey", "lon", "lat")
    boxes = _nation_boxes(spark, sf_dir)
    j = spatial_join.pip_join_broadcast(
        pts, boxes, poly_cols=("poly_id",), index_zoom=4)
    return j.select(
        F.col("c_custkey").alias("custkey"),
        F.col("poly_id").cast("int").alias("nation_box"),
    )


def sql_pip():
    return f"""
SELECT c.c_custkey AS custkey, n.n_nationkey AS nation_box
FROM customer c JOIN nation n
  ON {CUST_LON} >= {NB['minlon']} AND {CUST_LON} < {NB['maxlon']}
 AND {CUST_LAT} >= {NB['minlat']} AND {CUST_LAT} < {NB['maxlat']}
"""


def q_tile_budget(spark, sf_dir):
    """Per-zoom tile load distribution
    (operators/tiling.tile_load_stats) — the observability behind the
    reference's oversized-tile warnings, as exact statistics instead
    of a log line: per zoom, #non-empty tiles, total points, max and
    EXACT p50/p99 per-tile load (order statistic at floor(q*(n-1)),
    no approx percentile, so the oracle hash-matches).  One tile-count
    shuffle + a rank window over the counts table only."""
    from tilemaker_spark.operators import tiling as tiling_ops
    pts = _customer_points(spark, sf_dir).select("lon", "lat")
    return tiling_ops.tile_load_stats(pts, zooms=(4, 7, 10))


def sql_tile_budget():
    per_zoom = "\nUNION ALL\n".join(f"""
SELECT {z} AS z, {TE.lon2tilex_sql(CUST_LON, z)} AS x,
       {TE.lat2tiley_sql(CUST_LAT, z)} AS y
FROM customer""" for z in (4, 7, 10))
    return f"""
WITH zxy AS ({per_zoom}),
t AS (SELECT z, x, y, count(*) AS n FROM zxy GROUP BY z, x, y),
r AS (SELECT z, n,
             row_number() OVER (PARTITION BY z ORDER BY n, x, y) AS rk,
             count(*) OVER (PARTITION BY z) AS cnt
      FROM t)
SELECT z, max(cnt) AS n_tiles, CAST(sum(n) AS BIGINT) AS n_points,
       max(n) AS max_load,
       max(CASE WHEN rk = (cnt - 1) * 50 // 100 + 1 THEN n END)
         AS p50_load,
       max(CASE WHEN rk = (cnt - 1) * 99 // 100 + 1 THEN n END)
         AS p99_load
FROM r GROUP BY z
"""


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (operators/spatial_join.zonal_stats): PIP-join
    customer points into the nation boxes, then roll up per zone —
    point count plus exact-integer key stats (sum/min/max custkey).
    The rollup shuffles only on the zone id (#polygons keys,
    map-side-combined), so the join dominates at any scale.  The
    oracle recomputes the box-range join + GROUP BY in SQL."""
    pts = _customer_points(spark, sf_dir).select("c_custkey", "lon", "lat")
    boxes = _nation_boxes(spark, sf_dir)
    return spatial_join.zonal_stats(
        pts, boxes, metrics={
            "sum_key": F.sum("c_custkey"),
            "min_key": F.min("c_custkey"),
            "max_key": F.max("c_custkey"),
        }, index_zoom=4).select(
            F.col("zone").cast("int").alias("zone"),
            "n_points", "sum_key", "min_key", "max_key")


def sql_zonal_stats():
    return f"""
SELECT CAST(n.n_nationkey AS int) AS zone,
       count(*) AS n_points,
       CAST(sum(c.c_custkey) AS BIGINT) AS sum_key,
       min(c.c_custkey) AS min_key,
       max(c.c_custkey) AS max_key
FROM customer c JOIN nation n
  ON {CUST_LON} >= {NB['minlon']} AND {CUST_LON} < {NB['maxlon']}
 AND {CUST_LAT} >= {NB['minlat']} AND {CUST_LAT} < {NB['maxlat']}
GROUP BY n.n_nationkey
"""


def q_pip_cell(spark, sf_dir):
    """Same join through the cell-keyed shuffle path (large-layer plan,
    reference z15 bitmap filter-refine, src/shp_mem_tiles.cpp:58-127)."""
    pts = _customer_points(spark, sf_dir).select("c_custkey", "lon", "lat")
    boxes = _nation_boxes(spark, sf_dir)
    j = spatial_join.pip_join_cell(
        pts, boxes, poly_cols=("poly_id",), index_zoom=5)
    return j.select(
        F.col("c_custkey").alias("custkey"),
        F.col("poly_id").cast("int").alias("nation_box"),
    )


def q_knn(spark, sf_dir):
    """kNN join (graft op): 25 nation-derived query points, k=8 nearest
    customers by haversine on R=6371000; ties break on candidate id."""
    n = _t(spark, sf_dir, "nation")
    qlon, qlat = synth.geo_point_expr(F.col("n_nationkey") + F.lit(7777))
    q = n.select(F.col("n_nationkey").alias("query_id"),
                 qlon.alias("lon"), qlat.alias("lat"))
    c = _customer_points(spark, sf_dir).select(
        F.col("c_custkey").alias("cand_id"), "lon", "lat")
    out = knn_ops.knn_join_broadcast(q, c, k=8)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"), "rank", "cand_id",
        F.round("dist_m", 2).alias("dist_m"))


def sql_knn():
    qlon, qlat = synth.geo_point_sql("(n_nationkey + 7777)")
    dist = TE.haversine_m_sql(qlon, qlat, CUST_LON, CUST_LAT)
    return f"""
WITH d AS (
  SELECT n.n_nationkey AS query_id, c.c_custkey AS cand_id,
         {dist} AS dist_m,
         row_number() OVER (PARTITION BY n.n_nationkey
                            ORDER BY {dist} ASC, c.c_custkey ASC) AS rank
  FROM nation n CROSS JOIN customer c
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id,
       round(dist_m, 2) AS dist_m
FROM d WHERE rank <= 8
"""


def q_radius_join(spark, sf_dir):
    """Distance-band join / ST_DWithin analogue (operators/knn.
    radius_join_cell): every customer within 1,000 km haversine of each
    of 25 nation-derived query points, via the CELL + 8-neighbor-ring
    path — one shuffle per side on the compact z4 cell key, no cross
    join at any corpus size.  Exact here by construction: min ring
    guard over the 25 queries is 1,145 km > the 1,000 km radius
    (radius_join_audit proves it at runtime in pytest), and the
    nearest pair to the radius boundary sits 12.7 m away, so the
    double-precision filter cannot flip cross-engine.  The oracle is
    the O(n·m) cross-join ground truth."""
    n = _t(spark, sf_dir, "nation")
    qlon, qlat = synth.geo_point_expr(F.col("n_nationkey") + F.lit(7777))
    q = n.select(F.col("n_nationkey").alias("query_id"),
                 qlon.alias("lon"), qlat.alias("lat"))
    c = _customer_points(spark, sf_dir).select(
        F.col("c_custkey").alias("cand_id"), "lon", "lat")
    out = knn_ops.radius_join_cell(q, c, radius_m=1_000_000.0, cell_zoom=4)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"), "cand_id",
        F.round("dist_m", 2).alias("dist_m"))


def sql_radius_join():
    qlon, qlat = synth.geo_point_sql("(n_nationkey + 7777)")
    dist = TE.haversine_m_sql(qlon, qlat, CUST_LON, CUST_LAT)
    return f"""
SELECT n.n_nationkey AS query_id, c.c_custkey AS cand_id,
       round({dist}, 2) AS dist_m
FROM nation n CROSS JOIN customer c
WHERE {dist} <= 1000000.0
"""


def q_way_assembly(spark, sf_dir):
    """way ⋈ nodes geometry assembly (reference src/pbf_processor.cpp:122-146)
    exercised on TPC-H shape: orders = ways, lineitems = ordered refs;
    output per-way vertex count and haversine length."""
    from tilemaker_spark.operators import assembly
    li = _t(spark, sf_dir, "lineitem")
    node_id = F.col("l_orderkey") * 16 + F.col("l_linenumber")
    lon, lat = synth.geo_point_expr(node_id)
    # (orderkey, linenumber) is not unique in the synthetic data — dedupe
    # node ids and ref lists (both mirrored in the oracle SQL)
    nodes = li.select(node_id.alias("id"), lon.alias("lon"),
                      lat.alias("lat")).dropDuplicates(["id"])
    ways = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set(
            F.col("l_orderkey") * 16 + F.col("l_linenumber"))).alias("refs"))
        .select(F.col("l_orderkey").alias("id"), "refs",
                F.map_from_arrays(F.array(), F.array()).alias("tags"))
    )
    geoms = assembly.assemble_way_geometries(ways, nodes)
    # length along the ref-ordered polyline, JVM-side
    n = F.size("coords") / 2
    seg = F.transform(
        F.sequence(F.lit(0), (n - 2).cast("int")),
        lambda i: TE.haversine_m(
            F.element_at("coords", (i * 2 + 1).cast("int")),
            F.element_at("coords", (i * 2 + 2).cast("int")),
            F.element_at("coords", (i * 2 + 3).cast("int")),
            F.element_at("coords", (i * 2 + 4).cast("int")),
        ),
    )
    length = F.when(n >= 2, F.aggregate(seg, F.lit(0.0), lambda a, x: a + x)
                    ).otherwise(F.lit(0.0))
    return geoms.select(
        F.col("id").alias("way_id"),
        n.cast("int").alias("n_points"),
        F.round(length, 1).alias("length_m"),
    )


def sql_way_assembly():
    pid = "(l_orderkey * 16 + l_linenumber)"
    lon, lat = synth.geo_point_sql(pid)
    dist = TE.haversine_m_sql("plon", "plat", "nlon", "nlat")
    return f"""
WITH pts AS (
  SELECT DISTINCT l_orderkey, {pid} AS pid, {lon} AS plon, {lat} AS plat
  FROM lineitem
), seq AS (
  SELECT l_orderkey, plon, plat,
         lead(plon) OVER w AS nlon, lead(plat) OVER w AS nlat
  FROM pts WINDOW w AS (PARTITION BY l_orderkey ORDER BY pid)
)
SELECT l_orderkey AS way_id,
       CAST(count(*) AS int) AS n_points,
       round(coalesce(sum(CASE WHEN nlon IS NULL THEN NULL
                                ELSE {dist} END), 0.0), 1) AS length_m
FROM seq GROUP BY l_orderkey
"""


def q_spherical_area(spark, sf_dir):
    """Spherical polygon area (reference Area(),
    src/osm_lua_processing.cpp:529-578: spherical strategy R=6371000)."""
    boxes = _nation_boxes(spark, sf_dir)
    area = TE.box_area_sq_m(
        F.col("minlon"), F.col("minlat"), F.col("maxlon"), F.col("maxlat"))
    return boxes.select(
        F.col("poly_id").cast("int").alias("nationkey"),
        F.round(area / 1e6, 3).alias("area_km2"),
    )


def sql_spherical_area():
    area = TE.box_area_sq_m_sql(
        NB["minlon"], NB["minlat"], NB["maxlon"], NB["maxlat"])
    return f"""
SELECT n_nationkey AS nationkey, round({area} / 1e6, 3) AS area_km2
FROM nation
"""


def q_zorder_topk(spark, sf_dir):
    """z-order sort + feature_limit top-k per tile (reference
    src/tile_sorting.cpp:76-96 + tile_worker.cpp:493-495)."""
    pts = _customer_points(spark, sf_dir)
    z = 6
    zorder = TE.zorder_encode(F.col("c_acctbal"))
    w = Window.partitionBy("x", "y").orderBy(
        F.col("zorder").desc(), F.col("c_custkey").asc())
    return (
        pts.select(
            "c_custkey",
            TE.lon2tilex(F.col("lon"), z).alias("x"),
            TE.lat2tiley(F.col("lat"), z).alias("y"),
            zorder.alias("zorder"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("x", "y", "rank", F.col("c_custkey").alias("custkey"),
                "zorder")
    )


def sql_zorder_topk():
    zo = TE.zorder_encode_sql("c_acctbal")
    x = TE.lon2tilex_sql(CUST_LON, 6)
    y = TE.lat2tiley_sql(CUST_LAT, 6)
    return f"""
WITH t AS (
  SELECT c_custkey, {x} AS x, {y} AS y, {zo} AS zorder
  FROM customer
), r AS (
  SELECT x, y, c_custkey, zorder,
         row_number() OVER (PARTITION BY x, y
                            ORDER BY zorder DESC, c_custkey ASC) AS rank
  FROM t
)
SELECT x, y, CAST(rank AS INTEGER) AS rank, c_custkey AS custkey, zorder
FROM r WHERE rank <= 3
"""


def q_tiles_rollup(spark, sf_dir):
    """Tiles-at-zoom ancestor rollup (reference include/tile_data.h:68-103:
    x/=2; y/=2 per zoom): distinct non-empty tiles per zoom 0..13."""
    pts = _customer_points(spark, sf_dir)
    base = pts.select(
        TE.lon2tilex(F.col("lon"), 13).alias("bx"),
        TE.lat2tiley(F.col("lat"), 13).alias("by"),
    )
    return (
        base.select("bx", "by", F.explode(
            F.sequence(F.lit(0), F.lit(13))).alias("z"))
        .select("z", F.expr("shiftright(bx, 13 - z)").alias("x"),
                F.expr("shiftright(by, 13 - z)").alias("y"))
        .distinct()
        .groupBy("z").agg(F.count("*").alias("n_tiles"))
    )


def sql_tiles_rollup():
    x = TE.lon2tilex_sql(CUST_LON, 13)
    y = TE.lat2tiley_sql(CUST_LAT, 13)
    return f"""
WITH base AS (
  SELECT {x} AS bx, {y} AS by FROM customer
), zs AS (SELECT unnest(range(0, 14)) AS z),
tiles AS (
  SELECT DISTINCT z,
         CAST(floor(bx / pow(2, 13 - z)) AS bigint) AS x,
         CAST(floor(by / pow(2, 13 - z)) AS bigint) AS y
  FROM base CROSS JOIN zs
)
SELECT CAST(z AS INTEGER) AS z, count(*) AS n_tiles FROM tiles GROUP BY z
"""


def q_minzoom_filter(spark, sf_dir):
    """Per-feature minzoom visibility (reference src/tile_worker.cpp:321):
    parts become features with minzoom = p_size % 15; count visible per
    zoom."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select((F.col("p_size") % 15).alias("minzoom"))
        .select("minzoom", F.explode(
            F.sequence(F.lit(0), F.lit(14))).alias("zoom"))
        .filter(F.col("zoom") >= F.col("minzoom"))
        .groupBy("zoom").agg(F.count("*").alias("n_visible"))
    )


def sql_minzoom_filter():
    return """
WITH f AS (SELECT p_size % 15 AS minzoom FROM part),
zs AS (SELECT unnest(range(0, 15)) AS zoom)
SELECT CAST(zoom AS INTEGER) AS zoom, count(*) AS n_visible
FROM f CROSS JOIN zs WHERE zoom >= minzoom
GROUP BY zoom
"""


def q_combine_points(spark, sf_dir):
    """Compatible-point merge per tile+attrs (reference multipoint combine,
    src/tile_worker.cpp:323-370): group count per (tile, segment)."""
    pts = _customer_points(spark, sf_dir)
    z = 10
    return (
        pts.select(
            TE.lon2tilex(F.col("lon"), z).alias("x"),
            TE.lat2tiley(F.col("lat"), z).alias("y"),
            F.col("c_mktsegment").alias("segment"),
        )
        .groupBy("x", "y", "segment")
        .agg(F.count("*").alias("n_merged"))
    )


def sql_combine_points():
    x = TE.lon2tilex_sql(CUST_LON, 10)
    y = TE.lat2tiley_sql(CUST_LAT, 10)
    return f"""
SELECT {x} AS x, {y} AS y, c_mktsegment AS segment, count(*) AS n_merged
FROM customer GROUP BY 1, 2, 3
"""


def q_area_filter(spark, sf_dir):
    """Zoom-scaled area filter (reference RemovePartsBelowSize,
    src/tile_worker.cpp:79-96): boxes kept per zoom under threshold
    2e9 * 2^(8-1-z) m^2."""
    boxes = _nation_boxes(spark, sf_dir)
    area = TE.box_area_sq_m(
        F.col("minlon"), F.col("minlat"), F.col("maxlon"), F.col("maxlat"))
    zs = F.explode(F.sequence(F.lit(0), F.lit(8))).alias("zoom")
    return (
        boxes.select(F.col("poly_id").cast("int").alias("nationkey"),
                     area.alias("_a"))
        .select("nationkey", "_a", zs)
        .filter(F.col("_a") >= F.lit(2e9) * F.pow(
            F.lit(2.0), F.lit(7) - F.col("zoom")))
        .groupBy("zoom").agg(F.count("*").alias("n_kept"))
    )


def sql_area_filter():
    area = TE.box_area_sq_m_sql(
        NB["minlon"], NB["minlat"], NB["maxlon"], NB["maxlat"])
    return f"""
WITH b AS (SELECT n_nationkey, {area} AS a FROM nation),
zs AS (SELECT unnest(range(0, 9)) AS zoom)
SELECT CAST(zoom AS INTEGER) AS zoom, count(*) AS n_kept
FROM b CROSS JOIN zs
WHERE a >= 2e9 * pow(2.0, 7 - zoom)
GROUP BY zoom
"""


# ---- general engine (joins/agg/sort over the star schema) ----------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary — scan+agg engine proof."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.count("*").alias("n_rows"),
        )
    )


def sql_pricing_summary():
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       count(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style 3-way join + top-k — broadcast-join engine proof."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
    return j.select(F.col("l_orderkey").alias("orderkey"), "revenue")


def sql_shipping_priority():
    return """
SELECT l_orderkey AS orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


def q_events_window(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
            .alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


def sql_events_window():
    return """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---- training-data ops ----------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup(d, "text", "doc_id")


def sql_dedup_exact():
    return r"""
SELECT min(doc_id) AS doc_id,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash,
       count(*) AS n_dupes
FROM documents GROUP BY 2
"""


def q_text_stats(spark, sf_dir):
    return text_ops.text_stats(_t(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return text_ops.lang_scores(_t(spark, sf_dir, "documents"))


def q_bpe_tokens(spark, sf_dir):
    """GPT-2-style pre-tokenizer count (operators/text.bpe_token_count):
    JVM regexp_count, zero shuffles — the per-document token-cost
    estimator.  Same RE2-compatible pattern on both engines."""
    return text_ops.bpe_token_count(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    return text_ops.fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fp")


def q_tfidf_terms(spark, sf_dir):
    """Per-document distinctive terms (operators/text.tfidf_top_terms):
    the inverted-index tf/df aggregation pair + per-doc top-3 window,
    with an integer-exact smoothed idf (scaled reciprocal instead of
    log) so the ranking hashes identically cross-engine.  Three
    shuffles total: (doc,term) tf agg, term df agg, per-doc window —
    the same plan an index build runs at any corpus size."""
    return text_ops.tfidf_top_terms(_t(spark, sf_dir, "documents"))


def q_retrieval_eval(spark, sf_dir):
    """Embedding retrieval eval (operators/similarity.label_recall_at_k):
    exact cosine top-5 for the first 50 vectors, then the best rank at
    which a same-label neighbor appears (null = miss) — the per-query
    recall@k table every embedding model card aggregates.  Query side
    broadcast, corpus streamed once, label lookups join the tiny top-k
    result."""
    return sim_ops.label_recall_at_k(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=50)


def sql_retrieval_eval():
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
           FROM embeddings WHERE vec_id < 50),
d AS (
  SELECT q.query_id, q.q_label, e.vec_id AS cand_id, e.label AS c_label,
         list_cosine_similarity(CAST(q.qv AS double[]),
                                CAST(e.embedding AS double[])) AS sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, q_label, c_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, cand_id ASC) AS rank
  FROM d
)
SELECT query_id, CAST(q_label AS int) AS label,
       CAST(min(CASE WHEN c_label = q_label THEN rank END) AS int)
         AS hit_rank
FROM r WHERE rank <= 5 GROUP BY query_id, q_label
"""


def q_repetition(spark, sf_dir):
    """Gopher-style within-document repetition filters
    (operators/text.repetition_metrics): duplicate token / 2-gram /
    3-gram fractions + the repetitive flag.  Pure Catalyst map-only
    projection — zero shuffles at any corpus size."""
    return text_ops.repetition_metrics(_t(spark, sf_dir, "documents"))


def q_bpe_pairs(spark, sf_dir):
    """One distributed BPE training iteration
    (operators/text.bpe_merge_counts): corpus -> compact (word, freq)
    vocab (the only corpus-wide shuffle) -> adjacent-symbol-pair counts
    over the vocab -> deterministic top-20."""
    return text_ops.bpe_merge_counts(_t(spark, sf_dir, "documents"))


def q_substring_dups(spark, sf_dir):
    """Cross-document exact substring duplication
    (operators/substrings.substring_dup_pairs): winnowed length-20
    char-gram fingerprint sample (md5 hex-digit sample, identical on
    both engines), capped gram groups, in-group pair expansion — two
    shuffles (gram groupBy + pair re-agg), no self-join (Lee et al.
    ACL 2022 / SIGMOD 2003 winnowing)."""
    return substrings_ops.substring_dup_pairs(
        _t(spark, sf_dir, "documents"), length=20)


def sql_fingerprint():
    return r"""
SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
FROM documents
"""


def q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", block_col="source", threshold=0.4)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def sql_ngram_jaccard(threshold: float = 0.4):
    words = (r"list_distinct(string_split(trim(regexp_replace(lower(text),"
             r" '\s+', ' ', 'g')), ' '))")
    return f"""
WITH base AS (
  SELECT doc_id, source, {words} AS words FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.words, b.words)) AS double)
             / len(list_distinct(list_concat(a.words, b.words))), 6)
         AS jaccard
FROM base a JOIN base b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.words, b.words)) AS double)
      / len(list_distinct(list_concat(a.words, b.words))) >= {threshold}
"""


def q_jaccard_prefix(spark, sf_dir):
    """Exact set-similarity join via PREFIX FILTERING (Chaudhuri et al.
    ICDE'06 SSJoin / Bayardo et al. WWW'07 all-pairs) — the scale path
    for exact Jaccard: candidates come from an equi-join on each
    document's rarest ``|x| - ceil(t|x|) + 1`` tokens (lossless under a
    global rarity order) + a size-ratio prune, then exact verify.  Same
    output as the O(block^2) baseline (property-tested at several
    thresholds); shares its quadratic DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    out = dedup_ops.jaccard_join_prefix(
        d, "text", "doc_id", block_col="source", threshold=0.7)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# shared by the two cluster-dedup oracles: the ngram_jaccard pair set
# (proven above) fed through min-label closure via a recursive CTE —
# DuckDB's UNION-dedup recursion terminates, and min(lbl) per node equals
# the component minimum, exactly what the alternating-star algorithm in
# operators/components.py converges to.
_SQL_CC_LAB = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, source, list_distinct(string_split(trim(regexp_replace(
      lower(text), '\s+', ' ', 'g')), ' ')) AS words
  FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM base a JOIN base b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.words, b.words)) AS double)
        / len(list_distinct(list_concat(a.words, b.words))) >= 0.4
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
), lab AS (
  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
)
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pair list -> transitive clusters: alternating large-star/
    small-star connected components (Kiveris et al. SoCC'14; O(log d)
    rounds, two shuffles per round, no driver-side graph) over the exact
    ngram-Jaccard pairs, every document labeled with its component's
    minimum doc_id plus the cluster size.  The pair->cluster resolution
    step every dedup pipeline needs between candidate generation and
    canonical selection."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", block_col="source", threshold=0.4)
    out = components_ops.dedup_clusters(d, pairs, "doc_id")
    return out.select("doc_id", "cluster_id",
                      F.col("cluster_size").cast("long").alias("cluster_size"))


def sql_dedup_clusters():
    return _SQL_CC_LAB + r"""
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


def q_dedup_canonical(spark, sf_dir):
    """One survivor per near-dup cluster: highest-quality copy kept
    (n_chars desc, doc_id asc tiebreak), everything else dropped — the
    'keep the best copy' stage a training corpus runs after clustering."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", block_col="source", threshold=0.4)
    kept = components_ops.keep_canonical(d, pairs, "doc_id",
                                         quality_col="n_chars")
    return kept.select("doc_id", "cluster_id", "n_chars")


def sql_dedup_canonical():
    return _SQL_CC_LAB + r"""
SELECT doc_id, cluster_id, n_chars
FROM (
  SELECT d.doc_id, l.cluster_id, d.n_chars,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
  FROM documents d JOIN lab l ON d.doc_id = l.doc_id
) WHERE rk = 1
"""


def q_corpus_dedup(spark, sf_dir):
    """Flagship end-to-end corpus dedup (operators/pipeline.corpus_dedup)
    — the full chain a training-data run uses, as ONE composed DAG:
    exact dedup (md5 groupBy) -> MinHash-LSH near-dup pairs over the
    survivors (bucketed + capped, threshold 0.6) -> alternating-star
    connected components -> keep the highest-n_chars copy per cluster ->
    deterministic 98/1/1 hash split.  Every stage is individually
    oracle-proven (dedup_exact / minhash_pairs / dedup_clusters /
    dedup_canonical / hash_split); this query proves the COMPOSITION:
    the DuckDB twin chains the same five stages through a recursive-CTE
    closure."""
    from tilemaker_spark.operators import pipeline as pipeline_ops
    d = _t(spark, sf_dir, "documents")
    return pipeline_ops.corpus_dedup(d, "text", "doc_id",
                                     quality_col="n_chars",
                                     jaccard_threshold=0.6)


def sql_corpus_dedup():
    # stage twins: exact (md5 group, min-id survivor + count), shingle
    # Jaccard >= 0.6 pairs over survivors (the proven minhash oracle,
    # restricted to survivors), recursive-CTE min-label closure,
    # best-copy row_number, LCG hash split (98/1/1 over bucket < 980k /
    # 990k of 1e6)
    return r"""
WITH RECURSIVE exact AS (
  SELECT min(doc_id) AS doc_id, count(*) AS n_exact_dups
  FROM documents
  GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
), surv AS (
  SELECT d.doc_id, d.text, d.n_chars, e.n_exact_dups
  FROM documents d JOIN exact e USING (doc_id)
), base AS (
  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
  FROM surv
), padded AS (
  SELECT doc_id,
         if(length(t) >= 5, t, t || repeat(' ', 5 - length(t))) AS t
  FROM base
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
      generate_series(1, length(t) - 4), i -> hash(substr(t, i, 5))))
      AS shingles
  FROM padded
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS n FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b
    ON a.doc_id < b.doc_id
   AND a.n * 5 >= b.n * 3 AND b.n * 5 >= a.n * 3
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS double)
        / (a.n + b.n - len(list_intersect(a.shingles, b.shingles)))
        >= 0.6
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM surv
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
), lab AS (
  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), kept AS (
  SELECT doc_id, cluster_id, n_exact_dups FROM (
    SELECT s.doc_id, l.cluster_id, s.n_exact_dups,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY s.n_chars DESC, s.doc_id ASC) AS rk
    FROM surv s JOIN lab l USING (doc_id)
  ) WHERE rk = 1
)
SELECT doc_id, cluster_id, n_exact_dups,
       CASE WHEN ((doc_id * 48271 + 11) % 2147483647) % 1000000 < 980000
              THEN 'train'
            WHEN ((doc_id * 48271 + 11) % 2147483647) % 1000000 < 990000
              THEN 'val'
            ELSE 'test' END AS split
FROM kept
"""


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates, exact-verified.

    Oracle-checkable (round-3 gap closed): the output pairs carry the
    EXACT shingle-set Jaccard (the LSH banding only generates
    candidates; minhash_lsh_pairs verifies each against the full
    int64-hashed shingle sets), so the DuckDB twin computes true 5-char
    shingle Jaccard over all pairs — pair sets and values must match,
    not hash internals.  Verified equal at sf0.001 and sf0.01; r=4
    banding (32/8) collides every true >=0.6 pair in this corpus."""
    d = _t(spark, sf_dir, "documents")
    out = dedup_ops.minhash_lsh_pairs(
        d, "text", "doc_id", n_hashes=32, bands=8, k=5,
        jaccard_threshold=0.6)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def sql_minhash_pairs():
    # exact 5-shingle Jaccard over all pairs; DuckDB-side shingles are
    # 64-bit hash(...) values purely to make list_intersect cheap (set
    # identity is preserved modulo negligible 64-bit collisions).  The
    # size-ratio join condition is a lossless prefilter: J >= 0.6
    # forces min(n)/max(n) >= 0.6, i.e. 5*n_small >= 3*n_big.
    return r"""
WITH base AS (
  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
  FROM documents
), padded AS (
  SELECT doc_id,
         if(length(t) >= 5, t, t || repeat(' ', 5 - length(t))) AS t
  FROM base
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
      generate_series(1, length(t) - 4), i -> hash(substr(t, i, 5))))
      AS shingles
  FROM padded
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS n FROM sh
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles)) AS inter,
         a.n + b.n AS total
  FROM sized a JOIN sized b
    ON a.doc_id < b.doc_id
   AND a.n * 5 >= b.n * 3 AND b.n * 5 >= a.n * 3
)
SELECT doc_a, doc_b,
       round(cast(inter as double) / (total - inter), 6) AS jaccard
FROM cand
WHERE cast(inter as double) / (total - inter) >= 0.6
"""


def q_simhash_dups(spark, sf_dir):
    """SimHash near-dup pairs.  Oracle-checkable (round-3 gap closed):
    the full signature algorithm — FNV-1a word hashes, per-bit majority
    votes, 64-bit signature, hamming <= 3 — is expressed in the DuckDB
    twin via list_reduce + 128-bit modular arithmetic, and the chunk
    blocking is pigeonhole-lossless, so the Spark pair set equals the
    all-pairs SQL answer exactly."""
    d = _t(spark, sf_dir, "documents")
    return dedup_ops.simhash_near_dups(d, "text", "doc_id", max_hamming=3)


def sql_simhash_dups():
    # FNV-1a(word) = fold(h -> (h XOR byte) * prime mod 2^64) — the
    # multiply runs in HUGEINT (128-bit) and reduces mod 2^64; ord() ==
    # utf-8 byte holds because the documents corpus is ASCII (checked).
    # Votes: bit b set iff strictly more than half of the doc's DISTINCT
    # words have bit b set — identical to operators/dedup.py simhash.
    return r"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
      regexp_split_to_array(lower(text), '\s+'), w -> w <> ''))) AS w
  FROM documents
), wh AS (
  SELECT doc_id, cast(list_reduce(
      list_prepend(14695981039346656037::HUGEINT,
        list_transform(generate_series(1, length(w)),
                       i -> ord(substr(w, i, 1))::HUGEINT)),
      (h, c) -> (xor(cast(h as UBIGINT), cast(c as UBIGINT))::HUGEINT
                 * 1099511628211::HUGEINT)
                % 18446744073709551616::HUGEINT
    ) as UBIGINT) AS h
  FROM words
), bits AS (
  SELECT doc_id, bb.b AS b,
         sum(case when (h >> bb.b) & 1 = 1 then 1 else 0 end) AS cnt,
         count(*) AS nw
  FROM wh, (SELECT unnest(generate_series(0, 63)) AS b) bb
  GROUP BY doc_id, bb.b
), sh AS (
  SELECT doc_id,
         cast(sum(case when 2*cnt > nw then (1::UBIGINT << b)::HUGEINT
                       else 0::HUGEINT end)
              % 18446744073709551616::HUGEINT as UBIGINT) AS sh
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embeddings table (the exact ANN
    baseline; LSH variant in operators.similarity)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = sim_ops.cosine_topk_bruteforce(
        q, e.select(F.col("vec_id").alias("cand_id"), "embedding"), k=5)
    return out.select("query_id", "rank", "cand_id")


def sql_ann_topk():
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 10),
d AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         list_cosine_similarity(CAST(q.qv AS double[]),
                                CAST(e.embedding AS double[])) AS sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, cand_id ASC) AS rank
  FROM d
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id
FROM r WHERE rank <= 5
"""


def q_clip_gate(spark, sf_dir):
    """CLIP-style crossmodal alignment gate
    (operators/similarity.crossmodal_gate): pair the first half of the
    embeddings table (image side) with the second half (caption side)
    by index, quantize both to fixed-scale ints (floor(x*64+0.5)), and
    accept pairs whose exact int64 dot clears 0 — the LAION filtering
    stage made reproducible: the accept bit is a pure integer function
    of the inputs, so the oracle recomputes it exactly in SQL (a float
    cosine gate would flip near-threshold rows between engines).
    One equi-join on the pair index; the gate itself map-only."""
    e = _t(spark, sf_dir, "embeddings")
    n_half = e.count() // 2
    img = e.filter(F.col("vec_id") < n_half).select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").alias("img_emb"))
    txt = e.filter(F.col("vec_id") >= n_half).select(
        (F.col("vec_id") - n_half).alias("pair_id"),
        F.col("embedding").alias("txt_emb"))
    return sim_ops.crossmodal_gate(img.join(txt, "pair_id"))


def sql_clip_gate():
    return """
WITH n AS (SELECT count(*) // 2 AS half FROM embeddings),
img AS (SELECT vec_id AS pair_id, embedding AS a
        FROM embeddings, n WHERE vec_id < half),
txt AS (SELECT vec_id - half AS pair_id, embedding AS b
        FROM embeddings, n WHERE vec_id >= half)
SELECT i.pair_id,
       CAST(list_sum(list_transform(range(1, len(i.a) + 1), k ->
            floor(CAST(i.a[k] AS double) * 64 + 0.5)
          * floor(CAST(t.b[k] AS double) * 64 + 0.5))) AS BIGINT)
         AS dot_q,
       CAST(list_sum(list_transform(range(1, len(i.a) + 1), k ->
            floor(CAST(i.a[k] AS double) * 64 + 0.5)
          * floor(CAST(t.b[k] AS double) * 64 + 0.5))) >= 0 AS int)
         AS accept
FROM img i JOIN txt t USING (pair_id)
"""


def q_emb_dups(spark, sf_dir):
    """Embedding near-dup pairs on the exact quantized dot
    (operators/similarity.embedding_near_dups_exact): every pair of
    the 500 embeddings whose fixed-scale integer dot clears 1000 —
    the integer-exact ground truth the LSH-bucketed near-dup path is
    recall-audited against.  Broadcast-bounded declared O(n²)
    baseline; the oracle recomputes the same quantization and join in
    SQL."""
    e = _t(spark, sf_dir, "embeddings")
    return sim_ops.embedding_near_dups_exact(e, threshold=1000)


def sql_emb_dups():
    return """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), k ->
            floor(CAST(a.embedding[k] AS double) * 64 + 0.5)
          * floor(CAST(b.embedding[k] AS double) * 64 + 0.5)))
            AS BIGINT) AS dot_q
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), k ->
          floor(CAST(a.embedding[k] AS double) * 64 + 0.5)
        * floor(CAST(b.embedding[k] AS double) * 64 + 0.5)))
          AS BIGINT) >= 1000
"""


def q_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN end-to-end (train -> list assign -> probe -> exact
    re-rank, operators/similarity.py).  Probes every list (n_probes =
    nlist), which makes IVF provably exact — every candidate lands in
    some list and every list is probed — so the brute-force top-k SQL
    twin is the oracle regardless of where k-means put the centroids.
    The approximate regime (n_probes < nlist) is covered by the recall
    tests in tests/test_similarity_images.py."""
    e = _t(spark, sf_dir, "embeddings")
    cand = e.select(F.col("vec_id").alias("cand_id"), "embedding")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cent = sim_ops.train_ivf_centroids(cand, nlist=8, sample_size=4000)
    out = sim_ops.ann_ivf_topk(q, cand, k=5, centroids=cent,
                               n_probes=len(cent))
    return out.select("query_id", "rank", "cand_id")


def sql_ann_ivf():
    # exact twin of sql_ann_topk: with every list probed IVF degenerates
    # to brute force by construction
    return sql_ann_topk()


def q_video_frames(spark, sf_dir):
    """Video frame-sampling over real RIFF/AVI + baseline-JFIF bytes
    (operators/media.sample_frames, kernels/riff.py): sample every video
    down to ~5 fps, decode the sampled frames with the from-scratch JPEG
    codec, and PSNR-verify each against the deterministic reference
    pixels.  The oracle regenerates the closed-form frame selection
    (step = fps // 5, t_ms = idx*1000 // fps) — pix_ok carries the
    Spark-side decode invariant into the compared values (any decode or
    container-parse fault flips it and breaks the hash)."""
    from tilemaker_spark.operators import media as media_ops
    v = synth.videos_df(spark, 80, partitions=16)
    out = media_ops.sample_frames(v, target_fps=5)
    return out.select("video_id", "frame_idx", "t_ms", "w", "h", "pix_ok")


def sql_video_frames():
    # metadata formulas mirror sources/synth.videos_df exactly
    return """
WITH v AS (SELECT unnest(generate_series(0, 79)) AS i),
meta AS (
  SELECT 'vid_' || i AS video_id,
         8 + (i % 5) * 4 AS n_frames,
         10 + (i % 3) * 5 AS fps,
         16 + (i % 3) * 8 AS w,
         16 + ((i + 1) % 2) * 8 AS h
  FROM v
), fr AS (
  SELECT video_id, fps, w, h,
         unnest(generate_series(0, n_frames - 1, fps // 5)) AS frame_idx
  FROM meta
)
SELECT video_id, frame_idx, (frame_idx * 1000) // fps AS t_ms,
       w, h, true AS pix_ok
FROM fr
"""


def q_decontam(spark, sf_dir):
    """Benchmark decontamination (operators/text.decontaminate —
    Brown et al. 2020 appendix C): documents with ``doc_id % 37 == 0``
    stand in for a held-out eval suite; every other document is
    flagged (with a distinct-gram overlap count) if it shares any word
    5-gram with that set.  The benchmark gram set broadcasts (eval
    suites are tiny next to a 10^12-row corpus); the corpus side is
    one distinct + one per-doc re-agg, never a self-join."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    corpus = d.filter(F.col("doc_id") % 37 != 0)
    return text_ops.decontaminate(corpus, bench, n=5)


def sql_decontam(n: int = 5):
    toks = (r"string_split(trim(regexp_replace(lower(text), '\s+', ' ',"
            r" 'g')), ' ')")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS t FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n} + 1, 0)),
           i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))))
         AS gram
  FROM t
),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0),
ov AS (
  SELECT g.doc_id, count(*) AS n_overlap
  FROM g JOIN bg USING (gram)
  WHERE g.doc_id % 37 <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(ov.n_overlap, 0) AS int) AS n_overlap,
       CAST(coalesce(ov.n_overlap, 0) > 0 AS int) AS contaminated
FROM documents d LEFT JOIN ov USING (doc_id)
WHERE d.doc_id % 37 <> 0
"""


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (operators/text.redact_pii): deterministic
    synthetic emails / IPv4s are first PLANTED into a slice of the
    corpus (identically in both engines — the synthetic testdata has
    no organic PII), then counted and stripped to typed tags; the
    md5 of the redacted text is emitted so the oracle hash verifies
    the redacted BYTES, not just counts.  Map-only JVM regex inside
    codegen — zero shuffles, zero Python at any corpus size."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com now")))
             .when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" from host 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit("."),
                            (F.col("doc_id") % 100).cast("string"),
                            F.lit(" port 80")))
             .otherwise(F.lit(""))).alias("text"))
    return text_ops.redact_pii(planted)


def sql_pii_redact():
    from tilemaker_spark.operators.text import PII_EMAIL, PII_IPV4
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id
                                    || '@example.com now'
           WHEN doc_id % 7 = 0 THEN ' from host 10.0.' || (doc_id % 256)
                                    || '.' || (doc_id % 100) || ' port 80'
           ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS int)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS int) AS n_ips,
       md5(regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>',
                                         'g'),
                          '{PII_IPV4}', '<IP>', 'g')) AS clean_fp
FROM planted
"""


_STRATA_FRACTIONS = {0: 0.5, 1: 0.25, 2: 0.25}


def q_stratified(spark, sf_dir):
    """Deterministic stratified sampling (operators/sampling.
    stratified_sample — the reproducible ``df.sampleBy``): keep 50% of
    label 0, 25% of labels 1-2, 10% of the rest, where membership is a
    pure LCG function of (vec_id, salt) — stable across runs,
    partitionings, and engines.  Zero shuffles: a projection + filter
    fully pushed to the scan."""
    from tilemaker_spark.operators import sampling as sampling_ops
    d = _t(spark, sf_dir, "embeddings")
    return (sampling_ops.stratified_sample(
                d, "label", "vec_id", fractions=_STRATA_FRACTIONS,
                default=0.1)
            .select("vec_id", F.col("label").cast("int").alias("label")))


def sql_stratified():
    from tilemaker_spark.operators import sampling as sampling_ops
    return sampling_ops.stratified_sample_oracle_sql(
        "embeddings", "label", "vec_id", _STRATA_FRACTIONS, default=0.1)


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (operators/sampling.py):
    membership is a pure function of (doc_id, salt) — stable across
    runs, partitionings, and engines (df.sample() is not).  Zero
    shuffles; the oracle applies the identical LCG + thresholds."""
    from tilemaker_spark.operators import sampling as sampling_ops
    d = _t(spark, sf_dir, "documents")
    return sampling_ops.hash_split(d, "doc_id").select("doc_id", "split")


def sql_hash_split():
    from tilemaker_spark.operators import sampling as sampling_ops
    return sampling_ops.hash_split_oracle_sql()


def q_length_median(spark, sf_dir):
    """Exact per-source length quartiles via order statistics — corpus
    reporting without approximate percentile sketches (whose outputs
    are engine-specific and cannot hash-match cross-engine): rank every
    doc's n_chars inside its source (ONE window shuffle on the group
    key), pick the lower Q1 / median / Q3 ranks exactly, and emit
    integers.  At 10^12 rows the window is per-source and the output is
    #sources rows — the plan shape of a daily corpus-stats job."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source", "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"))
    q1 = F.floor((F.col("n") + 1) / 4)
    med = F.floor((F.col("n") + 1) / 2)
    q3 = F.floor((F.col("n") + 1) * 3 / 4)
    return (ranked
            .filter((F.col("rk") == q1) | (F.col("rk") == med)
                    | (F.col("rk") == q3))
            .groupBy("source")
            .agg(F.max("n").cast("long").alias("n_docs"),
                 F.max(F.when(F.col("rk") == q1, F.col("n_chars")))
                  .cast("long").alias("q1_chars"),
                 F.max(F.when(F.col("rk") == med, F.col("n_chars")))
                  .cast("long").alias("med_chars"),
                 F.max(F.when(F.col("rk") == q3, F.col("n_chars")))
                  .cast("long").alias("q3_chars")))


def sql_length_median():
    return """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, CAST(max(n) AS bigint) AS n_docs,
       CAST(max(CASE WHEN rk = (n + 1) // 4 THEN n_chars END)
            AS bigint) AS q1_chars,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN n_chars END)
            AS bigint) AS med_chars,
       CAST(max(CASE WHEN rk = (n + 1) * 3 // 4 THEN n_chars END)
            AS bigint) AS q3_chars
FROM ranked
WHERE rk = (n + 1) // 4 OR rk = (n + 1) // 2 OR rk = (n + 1) * 3 // 4
GROUP BY source
"""


def q_cube_stats(spark, sf_dir):
    """Multi-granularity corpus accounting via CUBE grouping sets —
    the one-pass answer to "counts by source, by lang, by both, and
    overall" that a data-card report needs (4 granularities, ONE scan
    + one shuffle; Spark expands grouping sets map-side, it does not
    rescan).  grouping_id disambiguates the rollup rows from real
    NULLs.  Oracle: the same CUBE in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    return (d.cube("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.grouping_id().alias("gid")))


def sql_cube_stats():
    return """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       GROUPING(source, lang) AS gid
FROM documents GROUP BY CUBE (source, lang)
"""


def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (operators/sampling.domain_cap) — the
    RefinedWeb/C4 policy that stops template farms dominating the mix:
    keep at most 120 docs per source, chosen by deterministic
    (id, salt)-hash rank so reruns and repartitions keep the SAME
    rows.  One shuffle on the domain key.  The oracle replays the
    hash-ranked window in SQL."""
    from tilemaker_spark.operators import sampling as sampling_ops
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling_ops.domain_cap(d, cap=120, salt=3)


def sql_domain_cap(cap: int = 120, salt: int = 3):
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ((doc_id + {salt}) * 48271 + 11) % 2147483647
                    % 1000000, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= {cap}
"""


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle
    (operators/sampling.corpus_shuffle): every document gets a dense
    position 0..n-1 in LCG-pseudo-random order, a pure function of
    (doc_id, seed) — reproducible across runs, partitionings, and
    engines.  Planned as fixed-arithmetic key ranges + per-range rank
    + tiny-offset prefix sum + broadcast, never a single global sort;
    the oracle's straight row_number() over the same key must agree
    on every row."""
    from tilemaker_spark.operators import sampling as sampling_ops
    d = _t(spark, sf_dir, "documents")
    return sampling_ops.corpus_shuffle(d, seed=7, n_ranges=64)


def sql_corpus_shuffle(seed: int = 7):
    return f"""
SELECT doc_id,
       row_number() OVER (
         ORDER BY ((doc_id + {seed}) * 48271 + 11) % 2147483647,
                  doc_id) - 1 AS pos
FROM documents
"""


def q_pack_blocks(spark, sf_dir):
    """GPT-style block packing (operators/sampling.pack_blocks):
    concatenate every document's whitespace tokens in doc_id order and
    chop the stream into 256-token training blocks; emit each doc's
    global offset and block span.  Runs as a DISTRIBUTED prefix sum —
    per-range partitioned windows + a global window over only the tiny
    per-range totals + a broadcast join — because a single global
    ORDER BY window would plan as one sequential partition at 100 TB.
    The oracle computes the straight global cumsum and must agree
    exactly."""
    from tilemaker_spark.operators import sampling as sampling_ops
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(text_ops.tokens(F.col("text"))).alias("n_tokens"))
    return sampling_ops.pack_blocks(toks, capacity=256, range_size=64)


def sql_pack_blocks(capacity: int = 256):
    toks = (r"len(string_split(trim(regexp_replace(lower(text), '\s+',"
            r" ' ', 'g')), ' '))")
    return f"""
WITH t AS (SELECT doc_id, CAST({toks} AS bigint) AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         CAST(sum(toks) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - toks AS BIGINT)
           AS tok_start
  FROM t
)
SELECT doc_id, tok_start,
       tok_start // {capacity} AS start_block,
       (tok_start + toks - 1) // {capacity} AS end_block,
       CAST(tok_start % {capacity} AS int) AS start_offset
FROM c
"""


_MIXTURE_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_mixture(spark, sf_dir):
    """Deterministic data MIXING (operators/sampling.weighted_mixture):
    downsample sources to a target composition with maximum retention —
    per-source counts aggregated small, broadcast back, one hash-bucket
    filter pass over the big table.  The oracle recomputes the identical
    IEEE-double thresholds from the same counts."""
    from tilemaker_spark.operators import sampling as sampling_ops
    d = _t(spark, sf_dir, "documents")
    out = sampling_ops.weighted_mixture(d, "source", "doc_id",
                                        _MIXTURE_WEIGHTS)
    return out.select("doc_id", "source")


def sql_mixture():
    from tilemaker_spark.operators import sampling as sampling_ops
    return sampling_ops.weighted_mixture_oracle_sql(_MIXTURE_WEIGHTS)


def q_funnel(spark, sf_dir):
    """Ordered event-sequence funnel (operators/sessions.event_funnel):
    users who viewed, then clicked strictly after their first view,
    then purchased after that click — len(stages) compact-key shuffles
    with the per-user table shrinking every stage, never a per-user
    sort of the raw log.  The oracle chains the same per-stage
    min(ts) CTEs."""
    from tilemaker_spark.operators import sessions as sessions_ops
    e = _t(spark, sf_dir, "events")
    return sessions_ops.event_funnel(
        e, stages=("view", "click", "purchase"))


def sql_funnel():
    return """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
       JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
       JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', count(*) FROM s2
UNION ALL
SELECT 3, 'purchase', count(*) FROM s3
"""


def q_heat_grid(spark, sf_dir):
    """Tile heat map with 3x3 box smoothing
    (operators/tiling.heat_grid): convolution over the AGGREGATED
    grid — points collapse to per-tile counts first, each count row
    fans out to its 9 neighbor keys (9x #tiles, not #points) and
    re-aggregates; only non-empty centers survive.  The oracle
    computes the neighborhood sum as a |dx|<=1 self-join."""
    from tilemaker_spark.operators import tiling as tiling_ops
    pts = _customer_points(spark, sf_dir).select("lon", "lat")
    return tiling_ops.heat_grid(pts, zoom=6)


def sql_heat_grid():
    return f"""
WITH t AS (
  SELECT {TE.lon2tilex_sql(CUST_LON, 6)} AS x,
         {TE.lat2tiley_sql(CUST_LAT, 6)} AS y, count(*) AS n
  FROM customer GROUP BY 1, 2
)
SELECT a.x, a.y, a.n, CAST(sum(b.n) AS BIGINT) AS heat
FROM t a JOIN t b
  ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
GROUP BY a.x, a.y, a.n
"""


def q_retention(spark, sf_dir):
    """Weekly retention-cohort matrix
    (operators/sessions.retention_cohorts): users cohorted by the
    epoch week of their first signup, counted once per later activity
    week at offset (activity - cohort) — one compact-key agg, one
    user-key join, one distinct on the (cohort, offset, user) key.
    Weeks are epoch-seconds // 604800 so both engines bucket
    identically (no timezone/date-trunc semantics).  The oracle
    replays the same chain."""
    from tilemaker_spark.operators import sessions as sessions_ops
    e = _t(spark, sf_dir, "events")
    return sessions_ops.retention_cohorts(e)


def sql_retention():
    return """
WITH first AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
cells AS (
  SELECT DISTINCT e.user_id,
         CAST(floor(floor(epoch(f.t0)) / 604800) AS BIGINT)
           AS cohort_week,
         CAST(floor(floor(epoch(e.ts)) / 604800)
              - floor(floor(epoch(f.t0)) / 604800) AS BIGINT)
           AS week_offset
  FROM events e JOIN first f USING (user_id)
  WHERE e.ts >= f.t0
)
SELECT cohort_week, week_offset, count(*) AS n_users
FROM cells GROUP BY cohort_week, week_offset
"""


def q_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day
    (operators/sessions.max_concurrency): sweep line over session
    (+1 start, -1 end) deltas with starts-before-ends tie order,
    running sum via the distributed prefix-sum shape (fixed time-range
    cumsum + tiny offsets + broadcast — never one global ORDER BY
    window), daily max.  The oracle reuses the sessionize CTE and the
    straight global window."""
    from tilemaker_spark.operators import sessions as sessions_ops
    e = _t(spark, sf_dir, "events")
    return sessions_ops.max_concurrency(e, gap_minutes=30.0)


def sql_concurrency():
    from tilemaker_spark.operators import sessions as sessions_ops
    base = sessions_ops.sessionize_oracle_sql(gap_minutes=30.0)
    # reuse the sessionize twin's CTE chain, keep only the interval
    head = base.split("SELECT {0}".format("user_id"), 1)[0]
    return head + """
, iv AS (
  SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
  FROM sess GROUP BY user_id, session_idx
), d AS (
  SELECT t0 AS t, 1 AS dd, 0 AS tie FROM iv
  UNION ALL
  SELECT t1, -1, 1 FROM iv
  UNION ALL
  -- spanned-midnight sentinels (zero delta, ordered first at the
  -- instant): a quiet day inside a long session still reports the
  -- sessions carried into it — same convention as max_concurrency
  SELECT g.b * 86400000000, 0, -1
  FROM iv, UNNEST(generate_series(t0 // 86400000000 + 1,
                                  t1 // 86400000000)) AS g(b)
), c AS (
  SELECT t, sum(dd) OVER (ORDER BY t, tie ROWS UNBOUNDED PRECEDING)
           AS conc
  FROM d
)
SELECT t // 86400000000 AS day,
       CAST(max(conc) AS BIGINT) AS max_concurrent
FROM c GROUP BY day
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct-count sketch (operators/sketches.py —
    Bar-Yossef RANDOM'02 / theta-sketch family): per event_type,
    estimate distinct users from the k=64 smallest 52-bit key hashes.
    The sketch is a bounded mergeable set, so the plan is ONE
    mapInArrow partial-sketch pass (<= k hashes per group leave each
    partition — manual map-side combine) + one shuffle over only the
    bounded partials; raw rows never shuffle and no COUNT(DISTINCT)
    materializes.  The estimate ``(k-1)*2^52 div h_k`` is pure int64
    floor division, so the DuckDB twin (global-window k-min over the
    same md5-prefix hash) reproduces it bit-for-bit — a sketch whose
    ESTIMATE is in the cross-engine hash gate, not just its size."""
    from tilemaker_spark.operators import sketches
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return sketches.kmv_distinct(e, "user_id", ["event_type"],
                                 k=64, salt=1)


def sql_kmv_distinct():
    from tilemaker_spark.operators import sketches
    return sketches.kmv_distinct_oracle_sql(
        "events", "user_id", "event_type", k=64, salt=1)


def q_hot_ngrams(spark, sf_dir):
    """Exact corpus heavy hitters (operators/sketches.py heavy_hitters
    — Misra-Gries '82 candidates + exact recount): every word BIGRAM
    holding >= 1500 ppm of the corpus, with its exact count.  The
    tokenize/bigram explode is pure Catalyst (split + transform over an
    index sequence); the frequent-items pass never shuffles the full
    distinct-bigram space — one bounded-state mapInArrow candidate
    pass (<= k counters per partition, candidates a PROVABLE superset
    of the answer), broadcast semi-join, recount of candidates only,
    exact integer ppm threshold (n * 1e6 >= total * ppm, no floats).
    At web scale this is the vocabulary/hot-phrase scan a plain
    groupBy-count cannot afford over 10^10+ distinct n-grams."""
    from tilemaker_spark.operators import sketches
    d = _t(spark, sf_dir, "documents").select(
        F.split(F.lower(F.col("text")), " ").alias("ws"))
    bg = d.select(F.explode(F.when(
        F.size("ws") >= 2,
        F.expr("transform(sequence(0, size(ws)-2),"
               " i -> concat(ws[i], ' ', ws[i+1]))")
    ).otherwise(F.array().cast("array<string>"))).alias("bigram"))
    return sketches.heavy_hitters(bg, "bigram", share_ppm=1500)


def sql_hot_ngrams():
    from tilemaker_spark.operators import sketches
    src = """(
  WITH d AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
  b AS (
    SELECT ws[i] || ' ' || ws[i+1] AS bigram
    FROM d, unnest(generate_series(1, len(ws) - 1)) t(i)
  ) SELECT bigram FROM b
)"""
    return sketches.heavy_hitters_oracle_sql(
        src, "bigram", 1500, out_col="bigram")


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted corpus subsampling (operators/sampling.py
    weighted_sample — Efraimidis-Spirakis IPL'06 with md5-derived
    uniforms instead of RNG state): the 500 documents with the largest
    ln(u)/n_chars keys, i.e. a char-weighted sample that is a pure
    function of (doc_id, salt) — stable across runs, partitionings,
    engines, cluster sizes.  Plan is TakeOrderedAndProject (per-
    partition top-k + driver merge of k rows per partition — no global
    sort, no single-partition window).  Output keeps only integer/
    string columns so the cross-engine hash gate is float-free."""
    from tilemaker_spark.operators.sampling import weighted_sample
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (weighted_sample(d, "doc_id", "n_chars", k=500, salt=2)
            .select("doc_id", "n_chars"))


def sql_weighted_sample():
    from tilemaker_spark.operators.sampling import weighted_sample_oracle_sql
    inner = weighted_sample_oracle_sql(
        "documents", "doc_id", "n_chars", 500, salt=2,
        cols="doc_id, n_chars")
    return f"SELECT doc_id, n_chars FROM ({inner}) s"


BPE_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "e"),
              ("e", "r"), ("s", "t"), ("r", "o"), ("a", "n"), ("o", "w")]


def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLY (operators/text.py bpe_encode_counts — the
    encode side of Sennrich 2016, closing the train-but-never-apply
    gap): per document, exact token count after a 9-merge published-
    tokenizer merge list (chained multi-level merges th->the, in->ine)
    plus the pre-merge word count.  The encoder is pure Catalyst
    string algebra — char-split + two literal replaces per merge in
    rank order (two passes because non-overlapping replace consumes
    shared boundary spaces in runs; equivalence to the rescan-per-step
    reference algorithm is property-tested on adversarial runs) —
    zero UDF, zero shuffles, map-only at any corpus size; the oracle
    replays the byte-identical replace chain."""
    from tilemaker_spark.operators.text import bpe_encode_counts
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_encode_counts(d, BPE_MERGES)


def sql_bpe_encode():
    from tilemaker_spark.operators.text import bpe_encode_oracle_sql
    return bpe_encode_oracle_sql(BPE_MERGES)


def q_kmv_setops(spark, sf_dir):
    """Theta-sketch set algebra (operators/sketches.py kmv_set_ops —
    the DataSketches intersection idea on the KMV bottom-k sketch):
    estimated distinct |view users|, |purchase users|, their union and
    intersection, plus the exact integer Jaccard numerator/denominator
    — from ONE tagged pass, raw rows never shuffled, k=96 so the
    sketch regime is genuine estimation (150 distinct users per type
    at sf0.01 > k).  theta = min of the two sketch thresholds; every
    estimate is pure int64 `cnt * 2^52 div theta`, so the DuckDB twin
    (window k-min replay of the identical sketches) hash-matches the
    ESTIMATES bit-for-bit."""
    from tilemaker_spark.operators import sketches
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return sketches.kmv_set_ops(e, "user_id", "event_type",
                                "view", "purchase", k=96, salt=3)


def sql_kmv_setops():
    from tilemaker_spark.operators.sketches import kmv_hash_sql, HASH_SPACE
    K, SP = 96, HASH_SPACE
    h = kmv_hash_sql("user_id", 3)
    return f"""
WITH h AS (
  SELECT DISTINCT event_type AS t, {h} AS h FROM events
  WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
), r AS (
  SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rk,
         count(*) OVER (PARTITION BY t) AS nd
  FROM h
), sk AS (SELECT t, h FROM r WHERE rk <= {K}),
tstats AS (
  SELECT t, max(nd) AS nd, max(CASE WHEN rk = {K} THEN h END) AS hk
  FROM r GROUP BY t
), thv AS (
  SELECT min(CASE WHEN nd >= {K} THEN hk ELSE {SP} END) AS th FROM tstats
), flags AS (
  SELECT h, bool_or(t = 'view') AS ia, bool_or(t = 'purchase') AS ib
  FROM sk GROUP BY h
), c AS (
  SELECT count(*) FILTER (ia AND h < th) AS ca,
         count(*) FILTER (ib AND h < th) AS cb,
         count(*) FILTER (ia AND ib AND h < th) AS ci,
         count(*) FILTER ((ia OR ib) AND h < th) AS cu,
         max(th) AS th
  FROM flags, thv
)
SELECT ca * {SP} // th AS est_a, cb * {SP} // th AS est_b,
       cu * {SP} // th AS est_union, ci * {SP} // th AS est_intersect,
       CAST(ci AS INTEGER) AS jaccard_num,
       CAST(cu AS INTEGER) AS jaccard_den
FROM c
"""


def q_grouped_topk(spark, sf_dir):
    """Exact per-group top-k with a BOUNDED shuffle (operators/
    sketches.py grouped_topk — the grouped analogue of Spark's global
    TakeOrderedAndProject, which has no built-in per-group form): the
    5 highest-value events per event_type, ties on event_id.  A plain
    window row_number shuffles every row of every group; here each
    partition's local top-5 per group is a provable candidate superset
    (a global top-5 row is beaten by < 5 rows globally, hence by < 5
    in its own partition), so <= 5 rows per (group, partition) reach
    the final window.  Output keeps integer/string columns only (rank,
    ids) so the hash gate is float-free; the oracle is the plain
    ROW_NUMBER the operator is exact against."""
    from tilemaker_spark.operators.sketches import grouped_topk
    e = _t(spark, sf_dir, "events").select("event_type", "event_id",
                                           "value")
    top = grouped_topk(e, ["event_type"], "value", 5, "event_id")
    return top.select("event_type", "event_id", "rk")


def sql_grouped_topk():
    return """
WITH r AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rk
  FROM events
)
SELECT event_type, event_id, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= 5
"""


def q_sel_quantiles(spark, sf_dir):
    """Exact global quantiles by distributed selection (operators/
    sketches.py selection_quantiles — histogram-refinement, the
    textbook distributed k-selection): p50/p90/p99 of document length
    with ZERO row shuffles — each pass scans once and aggregates a
    256-row map-side-combined histogram of the surviving value range,
    converging in ceil(log_256(range)) passes (2 here).  Spark's own
    exact path is a global sort / one-partition window (the whole
    table through an exchange at 10^12 rows); approx_percentile avoids
    that but is approximate.  Ranks are pure-integer
    q_ppm*(n-1) div 1e6 order statistics, so the oracle is a plain
    ROW_NUMBER lookup and the hash gate is float-free."""
    from tilemaker_spark.operators.sketches import selection_quantiles
    d = _t(spark, sf_dir, "documents").select("n_chars")
    return selection_quantiles(d, "n_chars",
                               (500000, 900000, 990000))


def sql_sel_quantiles():
    from tilemaker_spark.operators.sketches import (
        selection_quantiles_oracle_sql)
    return selection_quantiles_oracle_sql(
        "documents", "n_chars", (500000, 900000, 990000))


def q_bloom_prune(spark, sf_dir):
    """Bloom-filter semi-join pruning (operators/sketches.py
    bloom_prune — the runtime-filter optimization as an explicit,
    deterministic, cross-engine-checkable operator): prune lineitem
    against the high-value-orders key set before any join shuffle.
    Build side: one bit_or rollup per 64-bit word (<= m/64 rows ever
    aggregate), bounded collect assembles a 2^14-bit literal bitset;
    probe side: membership is pure Catalyst bit math inside codegen —
    ZERO shuffle, ZERO Python, zero fact rows moved.  m is sized SMALL
    on purpose so false positives exist and the hash gate covers them:
    positions are salted md5 prefixes, so the surviving set (true
    matches + FPs) is a pure function of the data, and the oracle
    replays the identical membership in SQL.  Output: exact pass /
    true-match / false-positive counts plus the distinct surviving
    keys' sum (an order-free integer digest of WHICH rows survived)."""
    from tilemaker_spark.operators.sketches import bloom_prune
    dim = (_t(spark, sf_dir, "orders")
           .where(F.col("o_totalprice") > 400000)
           .select("o_orderkey"))
    fact = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    kept = bloom_prune(fact, dim, "l_orderkey", "o_orderkey",
                       m_bits=1 << 14, k_hashes=3, salt=6)
    truth = dim.withColumnRenamed("o_orderkey", "l_orderkey")         .withColumn("__true", F.lit(1))
    j = kept.join(F.broadcast(truth), "l_orderkey", "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_pass"),
        F.sum(F.when(F.col("__true").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_true"),
        F.sum(F.when(F.col("__true").isNull(), 1).otherwise(0))
        .cast("long").alias("n_false_pos"),
        F.sum(F.col("l_orderkey")).alias("key_sum"))


def sql_bloom_prune():
    from tilemaker_spark.operators.sketches import _bloom_positions_sql
    M, K, SALT = 1 << 14, 3, 6
    dpos = _bloom_positions_sql("k", M, K, SALT)
    fpos = _bloom_positions_sql("l_orderkey", M, K, SALT)
    dbits = " UNION ALL ".join(
        f"SELECT {p} AS p FROM dimk" for p in dpos)
    passes = " AND ".join(f"{p} IN (SELECT p FROM dbits)" for p in fpos)
    return f"""
WITH dimk AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 400000
), dbits AS (SELECT DISTINCT p FROM ({dbits})),
kept AS (
  SELECT l_orderkey FROM lineitem WHERE {passes}
)
SELECT count(*) AS n_pass,
       CAST(count(*) FILTER (l_orderkey IN (SELECT k FROM dimk))
            AS BIGINT) AS n_true,
       CAST(count(*) FILTER (l_orderkey NOT IN (SELECT k FROM dimk))
            AS BIGINT) AS n_false_pos,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM kept
"""


def q_cm_counts(spark, sf_dir):
    """Count-Min point-frequency estimates (operators/sketches.py
    cm_estimate — Cormode & Muthukrishnan '05) for every distinct word
    of the corpus against a deliberately narrow 4x256 sketch, so real
    collisions exist and the hash gate covers the OVERESTIMATES, not
    just the happy path.  Build = one groupBy bounded at depth*width
    rows (map-side combined; raw words never shuffle), probe = join
    against the broadcast counter grid, estimate = min over depth.
    Complements heavy_hitters (exact above a share threshold): CM
    answers point queries for ANY key in bounded space with one-sided
    error — est >= true always, oracle-replayed bit-for-bit."""
    from tilemaker_spark.operators.sketches import cm_estimate
    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(
        F.split(F.lower(F.col("text")), " ")).alias("word")) \
        .where(F.col("word") != "")
    probes = words.distinct()
    return cm_estimate(words, "word", probes,
                       width=256, depth=4, salt=8)


def sql_cm_counts():
    W, D, SALT = 256, 4, 8
    pos = ("(CAST(('0x' || substr(md5(CAST(__k AS VARCHAR) "
           f"|| ':{SALT}:' || CAST(l AS VARCHAR)), 1, 13)) AS BIGINT) "
           f"% {W})")
    lvls = ", ".join(f"({i})" for i in range(D))
    return f"""
WITH w AS (
  SELECT unnest(string_split(lower(text), ' ')) AS __k FROM documents
), wf AS (SELECT __k FROM w WHERE __k <> ''),
lv(l) AS (VALUES {lvls}),
counters AS (
  SELECT l, {pos} AS b, count(*) AS c
  FROM wf, lv GROUP BY 1, 2
), probes AS (SELECT DISTINCT __k FROM wf),
pl AS (
  SELECT __k, l,
         (CAST(('0x' || substr(md5(CAST(__k AS VARCHAR)
          || ':{SALT}:' || CAST(l AS VARCHAR)), 1, 13))
          AS BIGINT) % {W}) AS b
  FROM probes, lv
), pj AS (
  SELECT pl.__k, counters.c
  FROM pl LEFT JOIN counters
    ON counters.l = pl.l AND counters.b = pl.b
)
SELECT __k AS word, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
FROM pj GROUP BY 1
"""


def q_analyze(spark, sf_dir):
    """ANALYZE-style table statistics in one pass (operators/
    sketches.py analyze_table): per lineitem column, exact row/null
    counts plus a KMV NDV estimate — every column's sketch folds
    through the SAME mapInArrow pass and ONE bounded merge shuffle,
    instead of one COUNT(DISTINCT) shuffle per column (at 10^12 rows
    x 16 columns that is 16 full-table distinct shuffles saved).
    k=256 < the key columns' cardinality, so the gate covers the
    genuine estimation regime; all-integer output."""
    from tilemaker_spark.operators.sketches import analyze_table
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
    return analyze_table(li, k=256, salt=4)


def sql_analyze():
    from tilemaker_spark.operators.sketches import analyze_table_oracle_sql
    return analyze_table_oracle_sql(
        "lineitem", ["l_orderkey", "l_partkey", "l_suppkey",
                     "l_returnflag"], k=256, salt=4)


def q_fuzzy_join(spark, sf_dir):
    """Edit-distance fuzzy self-join (operators/dedup.py
    edit_distance_join — the record-linkage primitive): every pair of
    distinct corpus WORDS within 2 Levenshtein edits.  Blocking is
    LOSSLESS (an edit moves length by <= 1, so one side explodes to
    its d+1 upward length buckets and each unordered pair meets
    exactly once in the longer string's bucket); verification is
    Spark's built-in JVM levenshtein — zero Python.  The oracle is the
    O(n^2) cross join with DuckDB's independent levenshtein
    implementation, so the DISTANCES themselves are cross-checked
    between two engines' editions of the algorithm."""
    from tilemaker_spark.operators.dedup import edit_distance_join
    words = (_t(spark, sf_dir, "documents")
             .select(F.explode(F.split(F.lower(F.col("text")), " "))
                     .alias("w"))
             .where(F.col("w") != "").distinct()
             .select(F.col("w").alias("id"), F.col("w").alias("s")))
    out = edit_distance_join(words, "id", "s", max_dist=2)
    return out.select("id_a", "id_b", "dist")


def sql_fuzzy_join():
    return """
WITH w AS (
  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS s
  FROM documents
), ww AS (SELECT s FROM w WHERE s <> '')
SELECT least(a.s, b.s) AS id_a, greatest(a.s, b.s) AS id_b,
       CAST(levenshtein(a.s, b.s) AS int) AS dist
FROM ww a JOIN ww b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 2
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): lag-mark +
    running-sum session numbering over one shuffle on the user key,
    then a per-session rollup — pure Catalyst, no UDF."""
    from tilemaker_spark.operators import sessions as sessions_ops
    ev = _t(spark, sf_dir, "events")
    return sessions_ops.session_stats(ev, gap_minutes=30.0)


def sql_sessionize():
    from tilemaker_spark.operators import sessions as sessions_ops
    return sessions_ops.sessionize_oracle_sql(gap_minutes=30.0)


def q_sliding_users(spark, sf_dir):
    """SLIDING-window active users — the pattern tumbling windows can't
    express (every event belongs to 2 overlapping windows): 2-hour
    windows sliding hourly, per-window event count + DISTINCT user
    count, via the native F.window generator (epoch-aligned, the same
    relation its Structured Streaming twin maintains incrementally).
    The oracle expands each event into its two window starts explicitly
    and re-aggregates — same relation, independent derivation."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"))
            .select(F.col("w.start").alias("win_start"),
                    "n_events", "n_users"))


def sql_sliding_users():
    return """
WITH ex AS (
  SELECT date_trunc('hour', ts) AS win_start, user_id FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, user_id FROM events
)
SELECT win_start, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM ex GROUP BY win_start
"""


def q_caption_check(spark, sf_dir):
    """Caption byte-identity verification — the second half of the
    BASELINE per-row invariant (operators/images.verify_captions; pixels
    are decode_verify).  5,000-row deterministic image+caption table
    (sources/synth.images_df spec, metadata only — no pixel bytes
    needed), captions for every 97th ordinal deliberately corrupted so
    the DETECTION path is exercised, reference captions regenerated
    JVM-side from the id — pure Catalyst, zero shuffles.  The oracle
    rebuilds the identical table, corruption, and md5s in SQL, so the
    5,000 caption_md5 values are a byte-for-byte cross-engine check."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.images_df(spark, 5000, with_bytes=False)
    k = F.substring_index(F.col("image_id"), "_", -1).cast("long")
    corrupted = img.withColumn(
        "caption",
        F.when(k % 97 == 0, F.upper(F.col("caption")))
        .otherwise(F.col("caption")))
    return image_ops.verify_captions(corrupted)


def sql_caption_check():
    # literal-for-literal twin of q_caption_check: same LCG caption
    # formula (sources/synth A1=9301, M32=2^32), same %97 corruption
    return """
WITH base AS (
  SELECT k, printf('img_%012d', k) AS image_id,
         'caption for image ' || k || ' // '
         || printf('%08x', (k * 9301) % 4294967296) AS ref
  FROM generate_series(0, 4999) t(k)
),
rows_ AS (
  SELECT image_id, ref,
         CASE WHEN k % 97 = 0 THEN upper(ref) ELSE ref END AS caption
  FROM base
)
SELECT image_id,
       CAST(caption = ref AS int) AS caption_ok,
       md5(caption) AS caption_md5
FROM rows_
"""


def q_image_quality(spark, sf_dir):
    """SSIM full-reference image quality with an exact-integer oracle
    (operators/images.ssim_flat_audit, kernels/metrics.ssim).  600
    constant-image pairs with deterministic gray levels and varying
    sizes (incl. sub-window images that exercise the window-shrink
    path); every 5th pair is identical (SSIM exactly 1, num == den).
    The REAL windowed kernel runs per row and is checked against the
    closed-form rational — ssim_ok flips and breaks the hash if the
    kernel's gray weights, summed-area sums, or stabilizers drift; the
    hashed columns are exact integers so the compare never depends on
    cross-engine float canonicalization.  Structure/contrast
    sensitivity (non-flat images) is property-tested in
    tests/test_sampling_metrics.py."""
    from tilemaker_spark.operators import images as image_ops
    base = spark.range(600).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37 + 11) % 256).cast("int").alias("g1"),
        F.when(F.col("id") % 5 == 0,
               ((F.col("id") * 37 + 11) % 256).cast("int"))
        .otherwise(((F.col("id") * 101 + 53) % 256).cast("int"))
        .alias("g2"),
        (F.lit(4) + (F.col("id") % 4) * 4).cast("int").alias("w"),
        (F.lit(4) + ((F.col("id") + 1) % 3) * 8).cast("int").alias("h"),
    ).repartition(16)
    return image_ops.ssim_flat_audit(base)


def sql_image_quality():
    # literal-for-literal twin of q_image_quality's gray-level formulas;
    # the integers are the closed-form flat-image SSIM rational times 1e4
    return """
WITH r AS (SELECT unnest(generate_series(0, 599)) AS k),
g AS (
  SELECT k, (k * 37 + 11) % 256 AS g1,
         CASE WHEN k % 5 = 0 THEN (k * 37 + 11) % 256
              ELSE (k * 101 + 53) % 256 END AS g2
  FROM r
)
SELECT k, CAST(g1 AS int) AS g1, CAST(g2 AS int) AS g2,
       20000 * g1 * g2 + 65025 AS ssim_num,
       10000 * (g1 * g1 + g2 * g2) + 65025 AS ssim_den,
       1 AS ssim_ok
FROM g
"""


def q_resize_check(spark, sf_dir):
    """Decode -> nearest-neighbor resize -> re-encode -> decode ->
    exact-integer checksum, end to end through the real PNG codec
    (operators/images.resize_images + pixel_checksum over
    sources/synth.gradient_images_df).  400 closed-form-pixel images of
    varying sizes (8..24 x 8..26) resized to 12x10; the oracle
    recomputes the nearest-neighbor source index (xi = j*w//12,
    yi = i*h//10) and the position-weighted checksum analytically, so a
    fault in the encoder, the decoder, the index map, or the weight
    layout breaks the hash.  Map-only: zero shuffles, three Arrow
    stages (encode, resize, checksum)."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 400, partitions=16)
    resized = image_ops.resize_images(img, out_w=12, out_h=10)
    return image_ops.pixel_checksum(resized, passthrough=("w", "h"))


def sql_resize_check():
    # literal twin of gradient_images_df sizes + resize_images's
    # nearest map + pixel_checksum's flat-index weights (i*36+j*3+c+1)
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 399)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
gi AS (SELECT unnest(generate_series(0, 9)) AS i),
gj AS (SELECT unnest(generate_series(0, 11)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT d.k, gi.i, gj.j, gc.c,
         (((gj.j * d.w) // 12) * 7 + ((gi.i * d.h) // 10) * 13
          + gc.c * 29 + d.k * 31) % 256 AS v
  FROM dims d, gi, gj, gc
)
SELECT printf('grad_%09d', k) AS image_id,
       12 AS w, 10 AS h,
       CAST(sum(v * (i * 36 + j * 3 + c + 1)) AS BIGINT) AS checksum
FROM px GROUP BY k
"""


def q_letterbox_check(spark, sf_dir):
    """Letterbox pad-to-square (YOLO-style gray-114 canvas,
    operators/images.letterbox_images) verified end to end: decode ->
    center on a side x side canvas (side = max(w,h), floor-centered
    offsets) -> re-encode PNG -> decode -> position-weighted
    exact-integer checksum.  300 closed-form gradient images of
    non-square varying sizes; the oracle recomputes every canvas pixel
    analytically (gradient formula inside the centered window, 114
    outside), so a fault in the offset convention, the fill, or the
    codec round-trip breaks the hash.  Map-only: zero shuffles."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 300, partitions=16)
    boxed = image_ops.letterbox_images(img, fill=114)
    return image_ops.pixel_checksum(
        boxed, passthrough=("w", "h", "ox", "oy"))


def sql_letterbox_check():
    # canvas pixel (i,j,c): inside the centered window it is the
    # gradient formula at (j-ox, i-oy), else 114; weight = flat
    # index + 1 over the side x side canvas
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 299)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
geo AS (SELECT k, w, h, greatest(w, h) AS side,
               (greatest(w, h) - w) // 2 AS ox,
               (greatest(w, h) - h) // 2 AS oy
        FROM dims),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 25)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT g.k, g.side, g.ox, g.oy, gi.i, gj.j, gc.c,
         CASE WHEN gj.j >= g.ox AND gj.j < g.ox + g.w
               AND gi.i >= g.oy AND gi.i < g.oy + g.h
              THEN ((gj.j - g.ox) * 7 + (gi.i - g.oy) * 13
                    + gc.c * 29 + g.k * 31) % 256
              ELSE 114 END AS v
  FROM geo g, gi, gj, gc
  WHERE gi.i < g.side AND gj.j < g.side
)
SELECT printf('grad_%09d', k) AS image_id,
       CAST(max(side) AS int) AS w, CAST(max(side) AS int) AS h,
       CAST(max(ox) AS int) AS ox, CAST(max(oy) AS int) AS oy,
       CAST(sum(v * (i * side * 3 + j * 3 + c + 1)) AS BIGINT)
         AS checksum
FROM px GROUP BY k
"""


def q_orientation_check(spark, sf_dir):
    """EXIF-orientation normalization verified end to end (operators/
    images.orient_images + kernels/jpeg apply_orientation, TIFF tag
    274): 320 closed-form gradient images each planted with
    orientation k%8+1 -> upright transform (all 8 cases: identity,
    mirrors, transposes, rot90/180/270) -> re-encode PNG -> decode ->
    position-weighted exact-integer checksum.  The oracle remaps the
    pixel formula through the INVERSE index map of each orientation
    analytically, so a fault in any of the 8 transforms, the dim swap
    bookkeeping, or the codec round-trip breaks the hash.  The EXIF
    APP1 parse itself (segment walk, both TIFF byte orders) is
    property-tested in pytest on real kernel JPEGs; this query locks
    the rotation semantics cross-engine.  Map-only: zero shuffles."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 320, partitions=16)
    k = F.substring_index(F.col("image_id"), "_", -1).cast("long")
    tagged = img.withColumn("orientation", (k % 8 + 1).cast("int"))
    up = image_ops.orient_images(tagged)
    return image_ops.pixel_checksum(
        up, passthrough=("orientation", "w", "h"))


def sql_orientation_check():
    # source pixel (sx, sy) feeding upright pixel (j=col i=row), per
    # TIFF 274; orientations 5..8 swap the output dims
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 319)) AS k),
dims AS (SELECT k, k % 8 + 1 AS o, 8 + (k % 5) * 4 AS w,
                8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
geo AS (SELECT k, o, w, h,
               CASE WHEN o >= 5 THEN h ELSE w END AS ow,
               CASE WHEN o >= 5 THEN w ELSE h END AS oh
        FROM dims),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 25)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT g.k, g.o, g.ow, g.oh, gi.i, gj.j, gc.c,
         CASE g.o
           WHEN 1 THEN (gj.j) * 7 + (gi.i) * 13
           WHEN 2 THEN (g.w - 1 - gj.j) * 7 + (gi.i) * 13
           WHEN 3 THEN (g.w - 1 - gj.j) * 7 + (g.h - 1 - gi.i) * 13
           WHEN 4 THEN (gj.j) * 7 + (g.h - 1 - gi.i) * 13
           WHEN 5 THEN (gi.i) * 7 + (gj.j) * 13
           WHEN 6 THEN (gi.i) * 7 + (g.h - 1 - gj.j) * 13
           WHEN 7 THEN (g.w - 1 - gi.i) * 7 + (g.h - 1 - gj.j) * 13
           ELSE (g.w - 1 - gi.i) * 7 + (gj.j) * 13
         END AS base
  FROM geo g, gi, gj, gc
  WHERE gi.i < g.oh AND gj.j < g.ow
)
SELECT printf('grad_%09d', k) AS image_id,
       CAST(max(o) AS int) AS orientation,
       CAST(max(ow) AS int) AS w, CAST(max(oh) AS int) AS h,
       CAST(sum(((base + c * 29 + k * 31) % 256)
                * (i * ow * 3 + j * 3 + c + 1)) AS BIGINT) AS checksum
FROM px GROUP BY k
"""


def q_augment_check(spark, sf_dir):
    """Geometric augmentation verified end to end: decode -> flip_h /
    flip_v / rot90(cw) -> re-encode PNG -> decode -> position-weighted
    exact-integer checksum (operators/images.augment_images +
    pixel_checksum).  300 closed-form images -> 900 augmented rows; the
    oracle applies each op as an analytic index remap of the pixel
    formula (flip_h: x -> w-1-x; flip_v: y -> h-1-y; rot90 cw:
    out[i,j] = in[h-1-j, i] with swapped dims), so any fault in the
    transform, the codec round-trip, or the dim bookkeeping breaks the
    hash.  Map-only: zero shuffles."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 300, partitions=16)
    aug = image_ops.augment_images(img)
    return image_ops.pixel_checksum(aug, passthrough=("op", "w", "h"))


def sql_augment_check():
    # per-op analytic remap of gradient_pixels; weight = flat index + 1
    # over the OUTPUT dims (rot90 swaps them)
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 299)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
ops AS (SELECT unnest(['flip_h', 'flip_v', 'rot90']) AS op),
base AS (
  SELECT d.k, d.w, d.h, o.op,
         CASE WHEN o.op = 'rot90' THEN d.w ELSE d.h END AS oh,
         CASE WHEN o.op = 'rot90' THEN d.h ELSE d.w END AS ow
  FROM dims d, ops o
),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 25)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT b.k, b.op, b.ow, b.oh, gi.i, gj.j, gc.c,
         (CASE b.op
            WHEN 'flip_h' THEN (b.w - 1 - gj.j) * 7 + gi.i * 13
            WHEN 'flip_v' THEN gj.j * 7 + (b.h - 1 - gi.i) * 13
            ELSE gi.i * 7 + (b.h - 1 - gj.j) * 13
          END + gc.c * 29 + b.k * 31) % 256 AS v
  FROM base b, gi, gj, gc
  WHERE gi.i < b.oh AND gj.j < b.ow
)
SELECT printf('grad_%09d', k) AS image_id, op,
       CAST(max(ow) AS int) AS w, CAST(max(oh) AS int) AS h,
       CAST(sum(v * (i * ow * 3 + j * 3 + c + 1)) AS BIGINT) AS checksum
FROM px GROUP BY k, op
"""


def q_grayscale_check(spark, sf_dir):
    """Integer-exact BT.601 grayscale verified end to end: decode ->
    fixed-point luma ((77R+150G+29B+128)>>8, weights summing to 256,
    no float anywhere) -> re-encode PNG -> decode -> position-weighted
    exact-integer checksum (operators/images.to_grayscale +
    pixel_checksum).  The oracle recomputes every luma value from the
    closed-form gradient pixel formula, so a fault in the channel
    weights, the rounding, the channel replication, or the codec
    round-trip breaks the hash.  Map-only: zero shuffles."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 300, partitions=16)
    return image_ops.pixel_checksum(image_ops.to_grayscale(img))


def sql_grayscale_check():
    # analytic twin: v_c = (j*7 + i*13 + c*29 + k*31) % 256; the luma
    # replicates into all 3 channels, so its weight collapses to
    # 3*(i*w*3 + j*3) + 6 per pixel
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 299)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 25)) AS j),
px AS (
  SELECT d.k, d.w, d.h, gi.i, gj.j,
         (gj.j * 7 + gi.i * 13 + d.k * 31) % 256 AS v0,
         (gj.j * 7 + gi.i * 13 + 29 + d.k * 31) % 256 AS v1,
         (gj.j * 7 + gi.i * 13 + 58 + d.k * 31) % 256 AS v2
  FROM dims d, gi, gj
  WHERE gi.i < d.h AND gj.j < d.w
),
g AS (
  SELECT k, w, h, i, j,
         (77 * v0 + 150 * v1 + 29 * v2 + 128) // 256 AS gv
  FROM px
)
SELECT printf('grad_%09d', k) AS image_id,
       CAST(max(w) AS int) AS w, CAST(max(h) AS int) AS h,
       CAST(sum(gv * (3 * (i * w * 3 + j * 3) + 6)) AS BIGINT)
         AS checksum
FROM g GROUP BY k
"""


def q_patchify_check(spark, sf_dir):
    """ViT-style patch-grid extraction verified end to end: decode ->
    split into non-overlapping 8x8 patches (edge remainders dropped) ->
    re-encode each patch as PNG -> decode -> position-weighted
    exact-integer checksum (operators/images.patchify_images +
    pixel_checksum).  200 closed-form images expand to ~800 patches;
    the oracle recomputes every patch pixel analytically
    (global coords gx*8+j / gy*8+i into the gradient formula), so a
    fault in the grid split, the strided reshape, the edge-drop rule,
    or the codec round-trip breaks the hash.  Map-only: zero
    shuffles."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 200, partitions=16)
    patches = image_ops.patchify_images(img, patch=8)
    return image_ops.pixel_checksum(
        patches, passthrough=("py", "px", "w", "h"))


def sql_patchify_check():
    # analytic twin: patch (py,px) pixel (i,j,c) sits at global
    # (gx*8+j, gy*8+i); weight = patch-local flat index + 1 (i*24+j*3+c+1)
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 199)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
gy AS (SELECT unnest(generate_series(0, 2)) AS py),
gx AS (SELECT unnest(generate_series(0, 2)) AS px),
gi AS (SELECT unnest(generate_series(0, 7)) AS i),
gj AS (SELECT unnest(generate_series(0, 7)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
cells AS (
  SELECT d.k, gy.py, gx.px, gi.i, gj.j, gc.c,
         ((gx.px * 8 + gj.j) * 7 + (gy.py * 8 + gi.i) * 13
          + gc.c * 29 + d.k * 31) % 256 AS v
  FROM dims d, gy, gx, gi, gj, gc
  WHERE gy.py < d.h // 8 AND gx.px < d.w // 8
)
SELECT printf('grad_%09d', k) AS image_id, CAST(py AS INTEGER) AS py,
       CAST(px AS INTEGER) AS px, 8 AS w, 8 AS h,
       CAST(sum(v * (i * 24 + j * 3 + c + 1)) AS BIGINT) AS checksum
FROM cells GROUP BY k, py, px
"""


def q_channel_stats(spark, sf_dir):
    """Per-channel corpus normalization constants as EXACT integers
    (operators/images.channel_stats): decode 500 closed-form images,
    fold n_px / sum / sum_sq per channel inside each Arrow batch (3
    rows out per batch regardless of batch size), one tiny groupBy(c)
    — the shuffle a 10^12-image run would still do in a few thousand
    rows.  The oracle re-derives every pixel from the gradient formula
    and aggregates in SQL, so encoder, decoder, and the per-channel
    fold all gate the hash."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 500, partitions=16)
    return image_ops.channel_stats(img)


def sql_channel_stats():
    # analytic twin: channel sums of v = (7j + 13i + 29c + 31k) % 256
    # over each image's own (h, w) extent
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 499)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 23)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT gc.c, (gj.j * 7 + gi.i * 13 + gc.c * 29 + d.k * 31) % 256 AS v
  FROM dims d, gi, gj, gc
  WHERE gi.i < d.h AND gj.j < d.w
)
SELECT CAST(c AS int) AS c, CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(sum(v * v) AS BIGINT) AS sum_sq
FROM px GROUP BY c
"""


def q_mixup_check(spark, sf_dir):
    """Mixup augmentation verified end to end (operators/images.
    mixup_images): pair image k with image k+20 (same dims — the size
    formulas have period 20), join the image table twice, blend with
    exact integer weights out = (64·a + 192·b + 128) >> 8, re-encode
    PNG, checksum.  The oracle evaluates the same integer blend of the
    two gradient formulas analytically, so the joins, the blend
    arithmetic, and the codec round-trip all gate the hash.  Plan: two
    AQE-brokered equi-joins + map-only Arrow stages."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 400, partitions=16)
    pairs = spark.range(380).select(
        F.format_string("grad_%09d", F.col("id")).alias("id_a"),
        F.format_string("grad_%09d", F.col("id") + 20).alias("id_b"))
    mixed = image_ops.mixup_images(img, pairs, lam_256=64)
    return image_ops.pixel_checksum(
        mixed.withColumnRenamed("id_a", "image_id"),
        passthrough=("id_b", "w", "h"))


def sql_mixup_check():
    # analytic twin: v = (64*va + 192*vb + 128) >> 8 with va, vb the
    # gradient formulas of seeds k and k+20 (identical dims by period)
    return """
WITH ks AS (SELECT unnest(generate_series(0, 379)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM ks),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 23)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT d.k, d.w, d.h, gi.i, gj.j, gc.c,
         (64 * ((gj.j * 7 + gi.i * 13 + gc.c * 29 + d.k * 31) % 256)
          + 192 * ((gj.j * 7 + gi.i * 13 + gc.c * 29
                    + (d.k + 20) * 31) % 256) + 128) // 256 AS v
  FROM dims d, gi, gj, gc
  WHERE gi.i < d.h AND gj.j < d.w
)
SELECT printf('grad_%09d', k) AS image_id,
       printf('grad_%09d', k + 20) AS id_b,
       CAST(max(w) AS int) AS w, CAST(max(h) AS int) AS h,
       CAST(sum(v * (i * w * 3 + j * 3 + c + 1)) AS BIGINT) AS checksum
FROM px GROUP BY k, w, h
"""


def q_shard_roundtrip(spark, sf_dir):
    """WebDataset-style tar-shard sink + source round trip
    (sinks/shards.write_shards + read_shards): 300 closed-form
    image+caption samples -> 8 deterministic tar shards (members
    sorted, tar metadata pinned, tmp+rename atomic writes) -> streamed
    back -> caption + position-weighted pixel checksum.  The oracle
    regenerates both analytically, so the shard writer, the tar codec
    round trip, and the reader's member pairing all gate the hash.
    Shard assignment here is k % 8 (SQL-expressible on purpose; the
    sink's default is xxhash64 for production skew-freedom)."""
    import shutil
    from tilemaker_spark.operators import images as image_ops
    from tilemaker_spark.sinks import shards

    out_dir = "/tmp/spark_graft_shards_oracle"
    shutil.rmtree(out_dir, ignore_errors=True)
    k = F.substring(F.col("image_id"), 6, 9).cast("long")
    img = synth.gradient_images_df(spark, 300, partitions=16).withColumn(
        "caption",
        F.format_string("gradient number %d", k))
    shards.write_shards(img, out_dir, n_shards=8,
                        shard_id=F.pmod(k, F.lit(8)))
    back = shards.read_shards(spark, out_dir, partitions=8)
    return image_ops.pixel_checksum(back, passthrough=("caption",))


def sql_shard_roundtrip():
    return """
WITH imgs AS (SELECT unnest(generate_series(0, 299)) AS k),
dims AS (SELECT k, 8 + (k % 5) * 4 AS w, 8 + ((k + 2) % 4) * 6 AS h
         FROM imgs),
gi AS (SELECT unnest(generate_series(0, 25)) AS i),
gj AS (SELECT unnest(generate_series(0, 23)) AS j),
gc AS (SELECT unnest(generate_series(0, 2)) AS c),
px AS (
  SELECT d.k, d.w, d.h, gi.i, gj.j, gc.c,
         (gj.j * 7 + gi.i * 13 + gc.c * 29 + d.k * 31) % 256 AS v
  FROM dims d, gi, gj, gc
  WHERE gi.i < d.h AND gj.j < d.w
)
SELECT printf('grad_%09d', k) AS image_id,
       'gradient number ' || k AS caption,
       CAST(sum(v * (i * w * 3 + j * 3 + c + 1)) AS BIGINT) AS checksum
FROM px GROUP BY k, w, h
"""


def q_phash_clusters(spark, sf_dir):
    """Image near-dup CLUSTERS end-to-end: perceptual-hash pair
    generation (operators/images.phash_near_dups — 16-bit chunk
    pigeonhole blocking, JVM-only bit ops) -> alternating-star connected
    components -> (image_id, cluster_id, cluster_size).

    Fixture: 2400 images in 600 planted groups of 4 — member 0 carries
    the group's base phash (LCG on the group id), members 1-3 flip one
    distinct bit each (pairwise hamming <= 2, so chunk blocking is
    exact by pigeonhole; cross-group hamming ~30).  The oracle
    regenerates the same phashes in SQL and resolves the SAME
    blocked-pair predicate through a recursive min-label closure, so
    any fault in the chunk explode, the hamming filter, or the
    component algorithm breaks the hash."""
    from tilemaker_spark.operators import components as components_ops
    from tilemaker_spark.operators import images as image_ops
    df = spark.range(2400).select(
        F.col("id").alias("image_id"),
        F.expr(
            "CAST((((id div 4) * 1103515245 + 12345) % 2147483648)"
            " * 1000003 AS BIGINT) ^ "
            "CASE WHEN id % 4 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), "
            "CAST(((id div 4) * 7 + (id % 4) * 13) % 61 AS INT)) END"
        ).alias("phash"))
    pairs = image_ops.phash_near_dups(df, max_hamming=4)
    out = components_ops.dedup_clusters(df, pairs, id_col="image_id",
                                        src="id_a", dst="id_b")
    return out.select(
        "image_id", "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"))


def sql_phash_clusters():
    # phash formula mirrors q_phash_clusters literal-for-literal
    # (DuckDB: // int div, xor(), <<, bit_count); pair predicate is the
    # SAME chunk-share + hamming<=4 the Spark side applies, closure via
    # recursive min-label propagation (terminates: UNION dedups)
    return """
WITH RECURSIVE r AS (SELECT unnest(generate_series(0, 2399)) AS k),
ph AS (
  SELECT k,
         xor(CAST((((k // 4) * 1103515245 + 12345) % 2147483648)
                  * 1000003 AS BIGINT),
             CASE WHEN k % 4 = 0 THEN CAST(0 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT)
                        << CAST(((k // 4) * 7 + (k % 4) * 13) % 61
                                AS INT)) END) AS phash
  FROM r
), pairs AS (
  SELECT a.k AS u, b.k AS v
  FROM ph a JOIN ph b ON a.k < b.k
  WHERE bit_count(xor(a.phash, b.phash)) <= 4
    AND ( (a.phash & 65535) = (b.phash & 65535)
       OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
       OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
       OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535) )
), edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach(node, lbl) AS (
  SELECT k, k FROM ph
  UNION
  SELECT e.u, rr.lbl FROM edges e JOIN reach rr ON rr.node = e.v
), lab AS (
  SELECT node AS image_id, min(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT image_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


def q_dirty_tiles(spark, sf_dir):
    """Incremental tile maintenance (operators/incremental.
    changed_point_tiles): diff two snapshots of the image table — v2
    drops the first 50 rows, appends 50 new ones, and MOVES every 11th
    surviving row to a fresh deterministic location — and emit the
    distinct z7 tiles needing re-render (removed rows' tiles, added
    rows' tiles, and BOTH tiles of moved rows).  One full-outer join
    co-partitioned on the id + one distinct on the small dirty set; the
    oracle declares the same adds/removes/moves closed-form."""
    from tilemaker_spark.operators import incremental as inc_ops
    k = F.col("id")
    lon1, lat1 = synth.geo_point_expr(k)
    v1 = spark.range(6000).select(
        k.alias("image_id"), lon1.alias("lon"), lat1.alias("lat"))
    lon2, lat2 = synth.geo_point_expr(k + F.lit(7000000))
    v2 = (spark.range(50, 6050).select(
        k.alias("image_id"),
        F.when(k % 11 == 0, lon2).otherwise(lon1).alias("lon"),
        F.when(k % 11 == 0, lat2).otherwise(lat1).alias("lat")))
    out = inc_ops.changed_point_tiles(v1, v2, zoom=7)
    return out.select(F.col("x").cast("int").alias("x"),
                      F.col("y").cast("int").alias("y"))


def sql_dirty_tiles():
    lon1, lat1 = synth.geo_point_sql("k")
    lon2, lat2 = synth.geo_point_sql("(k + 7000000)")
    z = 7
    return f"""
WITH oldv AS (
  SELECT k, {lon1} AS lon, {lat1} AS lat
  FROM generate_series(0, 5999) t(k)
),
newv AS (
  SELECT k,
         CASE WHEN k % 11 = 0 THEN {lon2} ELSE {lon1} END AS lon,
         CASE WHEN k % 11 = 0 THEN {lat2} ELSE {lat1} END AS lat
  FROM generate_series(50, 6049) t(k)
),
dirty AS (
  SELECT lon, lat FROM oldv WHERE k < 50 OR k % 11 = 0
  UNION ALL
  SELECT lon, lat FROM newv WHERE k >= 6000 OR k % 11 = 0
)
SELECT DISTINCT CAST({TE.lon2tilex_sql('lon', z)} AS int) AS x,
                CAST({TE.lat2tiley_sql('lat', z)} AS int) AS y
FROM dirty
"""


def q_wkb_points(spark, sf_dir):
    """GeoParquet interop: ISO WKB geometry-column ingestion
    (sources/wkb.points_from_wkb — one vectorized np.frombuffer reshape
    per Arrow batch, BOTH byte orders).  4,000 deterministic points are
    serialized to WKB (every 3rd big-endian, the rest little-endian),
    parsed back, and assigned to z10 tiles — the oracle recomputes the
    tiles from the closed-form lon/lat, so any fault in the endian
    handling, the type word, or the double extraction moves points to
    wrong tiles and breaks the hash."""
    from tilemaker_spark.sources import wkb as wkb_src
    base = spark.range(4000)
    lon, lat = synth.geo_point_expr(F.col("id"))
    src = base.select(F.col("id").alias("geom_id"),
                      lon.alias("_lon"), lat.alias("_lat"))
    wk = src.select("geom_id",
                    wkb_src.wkb_point_col(
                        F.col("geom_id"), F.col("_lon"),
                        F.col("_lat")).alias("wkb"))
    pts = wkb_src.points_from_wkb(wk)
    z = 10
    return (pts.select(TE.lon2tilex(F.col("lon"), z).alias("x"),
                       TE.lat2tiley(F.col("lat"), z).alias("y"))
            .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_pts"))
            .select(F.col("x").cast("int").alias("x"),
                    F.col("y").cast("int").alias("y"), "n_pts"))


def sql_wkb_points():
    lon, lat = synth.geo_point_sql("k")
    z = 10
    return f"""
WITH base AS (SELECT k FROM generate_series(0, 3999) t(k)),
pts AS (SELECT {lon} AS lon, {lat} AS lat FROM base)
SELECT CAST({TE.lon2tilex_sql('lon', z)} AS int) AS x,
       CAST({TE.lat2tiley_sql('lat', z)} AS int) AS y,
       count(*) AS n_pts
FROM pts GROUP BY 1, 2
"""


def q_pip_anti(spark, sf_dir):
    """Spatial ANTI-join — the complement the join family was missing
    (PIP / Intersects / CoveredBy / kNN / DWithin cover the positive
    side): customers located in NO nation box, as one broadcast
    left_anti nested-loop against the 25-polygon dim with the SAME
    ray-cast predicate the positive PIP paths use (operators/
    spatial_join.points_in_mp_expr).  The ocean/no-coverage partition
    of a corpus is a first-class output at 10^12 rows (it decides what
    falls back to coarser geo metadata); the oracle is the plain
    NOT EXISTS box predicate."""
    pts = _customer_points(spark, sf_dir).select("c_custkey", "lon", "lat")
    boxes = _nation_boxes(spark, sf_dir)
    inside = spatial_join.points_in_mp_expr(
        F.col("lon"), F.col("lat"), F.col("coords"), F.col("ring_sizes"))
    j = pts.join(F.broadcast(boxes.select("coords", "ring_sizes")),
                 on=inside, how="left_anti")
    return j.select(F.col("c_custkey").alias("custkey"))


def sql_pip_anti():
    return f"""
SELECT c.c_custkey AS custkey
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM nation n
  WHERE {CUST_LON} >= {NB['minlon']} AND {CUST_LON} < {NB['maxlon']}
    AND {CUST_LAT} >= {NB['minlat']} AND {CUST_LAT} < {NB['maxlat']}
)
"""


def q_filter_funnel(spark, sf_dir):
    """LAION-style acceptance funnel (operators/images.filter_funnel —
    Schuhmann et al. 2022 §2.2): every image+caption row classified by
    its first failing gate (min side 20 px, aspect within [2/3, 3/2]
    by integer cross-multiplication, caption ≥ 33 chars) and rolled up
    to per-reason counts — the observability a 10^12-row filter stage
    needs.  All gates integer-exact; the oracle replays them
    literally.  Map-only + one tiny rollup shuffle."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.images_df(spark, 20000, with_bytes=False)
    return image_ops.filter_funnel(img, min_side=20, ar_num=3, ar_den=2,
                                   min_caption=33)


def sql_filter_funnel():
    # w/h/caption formulas mirror sources/synth.images_df; caption
    # length = 18 + digits(k) + 4 + 8 = 30 + length(k as text)
    return """
WITH base AS (
  SELECT k, 16 + (k % 5) * 8 AS w, 16 + ((k + 2) % 4) * 8 AS h,
         30 + length(CAST(k AS VARCHAR)) AS clen
  FROM generate_series(0, 19999) t(k)
),
r AS (
  SELECT CASE WHEN w < 20 OR h < 20 THEN 'too_small'
              WHEN w * 2 > h * 3 OR h * 2 > w * 3 THEN 'bad_aspect'
              WHEN clen < 33 THEN 'short_caption'
              ELSE 'ok' END AS reason
  FROM base
)
SELECT reason, count(*) AS n FROM r GROUP BY reason
"""


def q_wkb_pip(spark, sf_dir):
    """Polygon WKB ingestion closing the loop into the spatial join:
    the 25 nation boxes are serialized to ISO WKB polygons (mixed byte
    orders), parsed back through sources/wkb.polygons_from_wkb into the
    internal (coords, ring_sizes) layout, and drive the SAME
    point-in-polygon join as pip_broadcast — so the oracle
    (the plain box-predicate SQL) verifies the polygon byte parsing
    end-to-end through the ray-cast expression."""
    from tilemaker_spark.sources import wkb as wkb_src
    n = _t(spark, sf_dir, "nation")
    b = synth.nation_boxes_expr(F.col("n_nationkey"))
    wk = n.select(
        F.col("n_nationkey").alias("poly_id"),
        wkb_src.wkb_box_col(F.col("n_nationkey"), b["minlon"], b["minlat"],
                            b["maxlon"], b["maxlat"]).alias("wkb"))
    polys = wkb_src.polygons_from_wkb(wk)
    pts = _customer_points(spark, sf_dir).select("c_custkey", "lon", "lat")
    j = pts.crossJoin(F.broadcast(polys)).filter(
        spatial_join.points_in_mp_expr(
            F.col("lon"), F.col("lat"), F.col("coords"),
            F.col("ring_sizes")))
    return j.select(F.col("c_custkey").alias("custkey"),
                    F.col("poly_id").cast("int").alias("nation_box"))


def sql_wkb_pip():
    # the boxes are half-open [min, max) in the fixture's SQL twin but
    # the ray cast treats the ring edges with even-odd semantics; the
    # synthetic customer points never land exactly ON a box edge (LCG
    # doubles), so the two predicates agree on every row
    return sql_pip()


def q_salt_plan(spark, sf_dir):
    """Data-driven skew salting plan (operators/skew.salt_plan): one
    counting pass over the image table's coarse H3 cells emits (cell,
    n_rows, n_salts = ceil(n/target)) — the explicit skew decision the
    north rule requires, sized per cell instead of a fixed guess.  The
    synthetic geo distribution is deliberately urban-skewed
    (sources/synth.geo_point_expr), so hot cells genuinely get
    n_salts > 1 here.  ONE map-side-combinable shuffle; output is
    #cells rows (broadcastable back to the rows at any corpus size).  Integer-exact ceil, so the DuckDB twin matches bit-for-bit."""
    from tilemaker_spark.operators import skew as skew_ops
    img = synth.images_df(spark, 20000, with_bytes=False)
    return skew_ops.salt_plan(img, "h3_coarse", target_rows=50)


def sql_salt_plan():
    lon, lat = synth.geo_point_sql("k")
    cell = TE.cell_id_sql("lon", "lat", 6)
    return f"""
WITH base AS (SELECT k FROM generate_series(0, 19999) t(k)),
pts AS (SELECT {lon} AS lon, {lat} AS lat FROM base),
cells AS (SELECT {cell} AS h3_coarse FROM pts)
SELECT h3_coarse, count(*) AS n_rows,
       CAST((count(*) + 49) // 50 AS BIGINT) AS n_salts
FROM cells GROUP BY h3_coarse
"""


def q_hilbert(spark, sf_dir):
    """Hilbert-curve tile ordering (sql/tile_exprs.hilbert_d — the
    PMTiles physical order, reference src/pmtiles.cpp:16-173): customer
    points -> z8 tiles -> per-tile counts keyed by the tile's position
    on the Hilbert curve.  The Catalyst side is one F.aggregate fold
    over the 8 bit levels (linear expression, zero UDF); the oracle
    iterates the IDENTICAL state update as a DuckDB recursive CTE, so
    every rotate/reflect branch is cross-checked per tile.  Ordering a
    tile table by this key is the locality layout the archive sinks
    rely on — completing the layout family next to Z-order, quadkey,
    geohash, and the hex cell."""
    pts = _customer_points(spark, sf_dir)
    z = 8
    t = (pts.select(TE.lon2tilex(F.col("lon"), z).alias("x"),
                    TE.lat2tiley(F.col("lat"), z).alias("y"))
         .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_pts")))
    return t.select(
        TE.hilbert_d(F.col("x"), F.col("y"), z).alias("hilbert"),
        F.col("x").cast("int").alias("x"), F.col("y").cast("int").alias("y"),
        "n_pts")


def sql_hilbert():
    z = 8
    rec = TE.hilbert_sql_rec_cte("t", z)
    return f"""
WITH RECURSIVE pts AS (SELECT {CUST_LON} AS lon, {CUST_LAT} AS lat
                       FROM customer),
t AS (
  SELECT {TE.lon2tilex_sql('lon', z)} AS x,
         {TE.lat2tiley_sql('lat', z)} AS y,
         count(*) AS n_pts
  FROM pts GROUP BY 1, 2
),
{rec.lstrip()}
SELECT hfin.hilbert, CAST(t.x AS int) AS x, CAST(t.y AS int) AS y, t.n_pts
FROM hfin JOIN t ON t.x = hfin.x0 AND t.y = hfin.y0
"""


def q_ar_bucket(spark, sf_dir):
    """SDXL-style aspect-ratio bucketed-batching assignment (operators/
    images.assign_aspect_buckets — Podell et al. 2023 §2.3): each image
    goes to the ratio bucket minimizing |w/h - bw/bh|, decided entirely
    in exact integer arithmetic (cross-multiplied common-denominator
    costs, ties to the lowest bucket index) so the assignment is
    bit-reproducible cross-engine.  Pure Catalyst argmin over a literal
    bucket array — zero UDF, ZERO shuffles, map-only at any corpus
    size.  The oracle replays the identical costs through a VALUES list
    + row_number window."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.images_df(spark, 5000, with_bytes=False)
    out = image_ops.assign_aspect_buckets(img)
    return out.select("image_id", F.col("bucket").cast("int").alias("bucket"),
                      "bname")


def sql_ar_bucket():
    from tilemaker_spark.operators import images as image_ops
    values = image_ops.aspect_bucket_oracle_sql()
    return f"""
WITH base AS (
  SELECT k, printf('img_%012d', k) AS image_id,
         16 + (k % 5) * 8 AS w,
         16 + ((k + 2) % 4) * 8 AS h
  FROM generate_series(0, 4999) t(k)
),
costs AS (
  SELECT base.image_id, b.idx, b.bname,
         abs(base.w * b.bh - base.h * b.bw) * b.m AS cost
  FROM base CROSS JOIN {values}
),
r AS (
  SELECT image_id, idx, bname,
         row_number() OVER (PARTITION BY image_id
                            ORDER BY cost, idx) AS rk
  FROM costs
)
SELECT image_id, CAST(idx AS int) AS bucket, bname FROM r WHERE rk = 1
"""


def q_corrupt_scan(spark, sf_dir):
    """Corpus corruption triage (operators/images.scan_corrupt): decode
    every blob, classify ok / bad_magic / corrupt.  600 lossless
    gradient PNGs with corruption PLANTED in Catalyst — every k%7==3
    blob truncated to its first third (interrupted download), every
    k%7==5 blob's signature byte zeroed (mislabeled file) — so the
    scanner's DETECTION path is what the oracle checks: if the decoder
    silently accepted a truncated stream or misclassified a wrong
    magic, the closed-form expected statuses would mismatch.  Map-only,
    zero shuffles; the only cost is the decode itself."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.gradient_images_df(spark, 600)
    k = F.substring_index(F.col("image_id"), "_", -1).cast("long")
    planted = img.withColumn(
        "bytes",
        F.when(k % 7 == 3, F.expr(
            "substring(bytes, 1, CAST(octet_length(bytes) / 3 AS INT))"))
        .when(k % 7 == 5, F.concat(
            F.lit(b"\x00"),
            F.expr("substring(bytes, 2, octet_length(bytes))")))
        .otherwise(F.col("bytes")))
    return image_ops.scan_corrupt(planted)


def sql_corrupt_scan():
    return """
SELECT printf('grad_%09d', k) AS image_id,
       CASE WHEN k % 7 = 3 THEN 'corrupt'
            WHEN k % 7 = 5 THEN 'bad_magic'
            ELSE 'ok' END AS status
FROM generate_series(0, 599) t(k)
"""


def q_image_meta(spark, sf_dir):
    """Header-only image profiling (operators/images.image_meta):
    dimensions + container format read straight from the PNG IHDR /
    JPEG SOF0 headers with pure Catalyst (hex + fixed-offset substr +
    byte-aligned regexp) — ZERO decode, ZERO Python in the parse.
    1,500 real kernel-encoded blobs (2/3 PNG, 1/3 JPEG), every
    k%11==7 blob truncated to 4 bytes (interrupted download) so the
    'unknown' fallback path is exercised too.  The oracle recomputes
    the expected (fmt, w, h) from the synth formulas — a drift in
    either codec's header layout OR the parser breaks the hash.
    This is the first pass a 100 TB crawl profiling stage runs: w/h
    for every blob without paying for a single pixel decode."""
    from tilemaker_spark.operators import images as image_ops
    img = synth.images_df(spark, 1500, with_bytes=True, partitions=16)
    k = F.substring_index(F.col("image_id"), "_", -1).cast("long")
    planted = img.withColumn(
        "bytes",
        F.when(k % 11 == 7, F.expr("substring(bytes, 1, 4)"))
        .otherwise(F.col("bytes")))
    return image_ops.image_meta(planted)


def sql_image_meta():
    # twin of images_df's dim/format formulas with the truncation plant
    return """
SELECT printf('img_%012d', k) AS image_id,
       CASE WHEN k % 11 = 7 THEN 'unknown'
            WHEN k % 3 = 0 THEN 'jpeg' ELSE 'png' END AS fmt_hdr,
       CASE WHEN k % 11 = 7 THEN NULL
            ELSE CAST(16 + (k % 5) * 8 AS int) END AS w_hdr,
       CASE WHEN k % 11 = 7 THEN NULL
            ELSE CAST(16 + ((k + 2) % 4) * 8 AS int) END AS h_hdr
FROM generate_series(0, 1499) t(k)
"""


def q_upsert(spark, sf_dir):
    """Iceberg-style MERGE INTO (lineage.merge_upsert): a re-crawl
    delta — every k%7==2 image arrives with a new caption, plus 500
    brand-new ids — merges into the 5,000-row metadata table: matched
    rows replaced, new rows inserted, untouched rows pass through.
    One left_anti join on the key + unionByName (the delta broadcasts
    in the common CDC case).  The oracle rebuilds the merged table
    from the closed-form caption formulas."""
    img = synth.images_df(spark, 5000, with_bytes=False).select(
        "image_id", "caption")
    upd = spark.range(5500).filter(
        (F.col("id") % 7 == 2) | (F.col("id") >= 5000)).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id"),
        F.concat(F.lit("recrawl "), F.col("id").cast("string"))
        .alias("caption"))
    return lineage.merge_upsert(img, upd, key_col="image_id")


def sql_upsert():
    # merged table = recrawl caption where k%7==2 or k>=5000, else the
    # original LCG caption formula (sources/synth A1=9301, M32=2^32)
    return """
SELECT printf('img_%012d', k) AS image_id,
       CASE WHEN k % 7 = 2 OR k >= 5000 THEN 'recrawl ' || k
            ELSE 'caption for image ' || k || ' // '
                 || printf('%08x', (k * 9301) % 4294967296) END
         AS caption
FROM generate_series(0, 5499) t(k)
"""


def q_multimodal_dups(spark, sf_dir):
    """Multimodal JOINT dedup — the policy serious image+caption
    pipelines use to avoid boilerplate-caption false positives: a pair
    is a duplicate only when BOTH modalities agree (caption exact-hash
    equality AND phash hamming <= 4 through the chunk blocking).  1,800
    images in 450 planted groups of 4: every group is phash-near, but
    only every 3rd group shares a caption — so caption-only dedup and
    phash-only dedup both overclaim, and the intersection (computed as
    an equi-join of the two pair sets, both sides bucketed generators,
    never all-pairs) keeps exactly the double-confirmed 900 pairs.  The
    oracle regenerates both planted predicates and intersects them in
    SQL."""
    from tilemaker_spark.operators import dedup as dedup_ops
    from tilemaker_spark.operators import images as image_ops
    df = spark.range(1800).select(
        F.col("id").alias("image_id"),
        F.expr(
            "CAST((((id div 4) * 1103515245 + 12345) % 2147483648)"
            " * 1000003 AS BIGINT) ^ "
            "CASE WHEN id % 4 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), "
            "CAST(((id div 4) * 7 + (id % 4) * 13) % 61 AS INT)) END"
        ).alias("phash"),
        F.when((F.col("id") / 4).cast("long") % 3 == 0,
               F.concat(F.lit("caption of group "),
                        (F.col("id") / 4).cast("long").cast("string")))
        .otherwise(F.concat(F.lit("unique caption "),
                            F.col("id").cast("string"))).alias("caption"))
    p_pairs = image_ops.phash_near_dups(df, max_hamming=4)
    c_pairs = (df.alias("a").join(
        df.alias("b"),
        (F.col("a.caption") == F.col("b.caption"))
        & (F.col("a.image_id") < F.col("b.image_id")))
        .select(F.col("a.image_id").alias("id_a"),
                F.col("b.image_id").alias("id_b")))
    both = p_pairs.join(c_pairs, on=["id_a", "id_b"], how="inner")
    return both.select("id_a", "id_b", "hamming")


def sql_multimodal_dups():
    return """
WITH r AS (SELECT unnest(generate_series(0, 1799)) AS k),
t AS (
  SELECT k,
         xor(CAST((((k // 4) * 1103515245 + 12345) % 2147483648)
                  * 1000003 AS BIGINT),
             CASE WHEN k % 4 = 0 THEN CAST(0 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT)
                        << CAST(((k // 4) * 7 + (k % 4) * 13) % 61
                                AS INT)) END) AS phash,
         CASE WHEN (k // 4) % 3 = 0
              THEN 'caption of group ' || (k // 4)
              ELSE 'unique caption ' || k END AS caption
  FROM r
)
SELECT a.k AS id_a, b.k AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS int) AS hamming
FROM t a JOIN t b ON a.k < b.k
WHERE a.caption = b.caption
  AND bit_count(xor(a.phash, b.phash)) <= 4
  AND ( (a.phash & 65535) = (b.phash & 65535)
     OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
     OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
     OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535) )
"""


def q_geo_dedup(spark, sf_dir):
    """Geo-fenced near-dup detection — the graft's geospatial × image
    composition (operators/images.geo_phash_near_dups): a pair counts
    only when phash hamming <= 4 AND both images sit in the same
    coarse cell (the same-landmark-shot-10000-times reality; fencing
    also makes pair generation independent per cell).  1,200 images in
    300 planted groups of 4 — all groups phash-near, but in every
    g%3==1 group one member is displaced to a far cell, so its 3 pairs
    must vanish: 200*6 + 100*3 = 1500 pairs.  The oracle regenerates
    the phash/cell formulas and applies the same chunk-blocking
    predicate in SQL."""
    from tilemaker_spark.operators import images as image_ops
    df = spark.range(1200).select(
        F.col("id").alias("image_id"),
        F.expr(
            "CAST((((id div 4) * 1103515245 + 12345) % 2147483648)"
            " * 1000003 AS BIGINT) ^ "
            "CASE WHEN id % 4 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), "
            "CAST(((id div 4) * 7 + (id % 4) * 13) % 61 AS INT)) END"
        ).alias("phash"),
        F.expr(
            "CAST(id div 4 AS BIGINT) + "
            "CASE WHEN (id div 4) % 3 = 1 AND id % 4 = 3 "
            "THEN 100000 ELSE 0 END").alias("h3_coarse"))
    return image_ops.geo_phash_near_dups(df, max_hamming=4)


def sql_geo_dedup():
    return """
WITH r AS (SELECT unnest(generate_series(0, 1199)) AS k),
t AS (
  SELECT k,
         xor(CAST((((k // 4) * 1103515245 + 12345) % 2147483648)
                  * 1000003 AS BIGINT),
             CASE WHEN k % 4 = 0 THEN CAST(0 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT)
                        << CAST(((k // 4) * 7 + (k % 4) * 13) % 61
                                AS INT)) END) AS phash,
         (k // 4) + CASE WHEN (k // 4) % 3 = 1 AND k % 4 = 3
                         THEN 100000 ELSE 0 END AS cell
  FROM r
)
SELECT a.cell AS cell, a.k AS id_a, b.k AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS int) AS hamming
FROM t a JOIN t b ON a.k < b.k AND a.cell = b.cell
WHERE bit_count(xor(a.phash, b.phash)) <= 4
  AND ( (a.phash & 65535) = (b.phash & 65535)
     OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
     OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
     OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535) )
"""


def q_image_canonical(spark, sf_dir):
    """Keep-best-copy image dedup — the stage after near-dup clustering
    where the pipeline picks which copy of each duplicate group to
    TRAIN on (highest quality score, ties to the smallest id): the same
    2,400-image planted phash fixture as q_phash_clusters, a
    deterministic per-image quality, phash chunk-blocked pairs ->
    alternating-star components -> one survivor per cluster
    (operators/components.keep_canonical).  The oracle regenerates the
    phashes, the SAME blocked-pair predicate, a recursive min-label
    closure, and the survivor window in SQL."""
    from tilemaker_spark.operators import components as components_ops
    from tilemaker_spark.operators import images as image_ops
    df = spark.range(2400).select(
        F.col("id").alias("image_id"),
        F.expr(
            "CAST((((id div 4) * 1103515245 + 12345) % 2147483648)"
            " * 1000003 AS BIGINT) ^ "
            "CASE WHEN id % 4 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), "
            "CAST(((id div 4) * 7 + (id % 4) * 13) % 61 AS INT)) END"
        ).alias("phash"),
        ((F.col("id") * F.lit(2654435761)) % F.lit(1000)).alias("quality"))
    pairs = image_ops.phash_near_dups(df, max_hamming=4)
    out = components_ops.keep_canonical(df, pairs, id_col="image_id",
                                        quality_col="quality",
                                        src="id_a", dst="id_b")
    return out.select("image_id", "cluster_id",
                      F.col("quality").cast("long").alias("quality"))


def sql_image_canonical():
    # same phash + pair predicate as sql_phash_clusters, plus the
    # quality formula and the survivor window keep_canonical applies
    return """
WITH RECURSIVE r AS (SELECT unnest(generate_series(0, 2399)) AS k),
ph AS (
  SELECT k,
         xor(CAST((((k // 4) * 1103515245 + 12345) % 2147483648)
                  * 1000003 AS BIGINT),
             CASE WHEN k % 4 = 0 THEN CAST(0 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT)
                        << CAST(((k // 4) * 7 + (k % 4) * 13) % 61
                                AS INT)) END) AS phash,
         (k * 2654435761) % 1000 AS quality
  FROM r
), pairs AS (
  SELECT a.k AS u, b.k AS v
  FROM ph a JOIN ph b ON a.k < b.k
  WHERE bit_count(xor(a.phash, b.phash)) <= 4
    AND ( (a.phash & 65535) = (b.phash & 65535)
       OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
       OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
       OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535) )
), edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach(node, lbl) AS (
  SELECT k, k FROM ph
  UNION
  SELECT e.u, rr.lbl FROM edges e JOIN reach rr ON rr.node = e.v
), lab AS (
  SELECT node AS image_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), sel AS (
  SELECT lab.image_id, lab.cluster_id, ph.quality,
         row_number() OVER (PARTITION BY lab.cluster_id
                            ORDER BY ph.quality DESC, lab.image_id ASC)
           AS rk
  FROM lab JOIN ph ON ph.k = lab.image_id
)
SELECT image_id, cluster_id, CAST(quality AS BIGINT) AS quality
FROM sel WHERE rk = 1
"""


def q_audio_features(spark, sf_dir):
    """Audio waveform features over real RIFF/WAVE 16-bit PCM bytes
    (operators/media.audio_features, kernels/riff.py).  The PCM is pure
    int64 arithmetic (synth_audio_samples), so the oracle regenerates
    the exact samples in SQL and recomputes every feature — a decode
    fault anywhere in the WAV path changes peak/zcr/sum_sq and breaks
    the hash.  All columns are exact integers (sum_sq replaces the old
    rounded-double rms) so the compare never depends on cross-engine
    float canonicalization."""
    from tilemaker_spark.operators import media as media_ops
    a = synth.audio_df(spark, 500, partitions=16)
    return media_ops.audio_features(a)


def sql_audio_features():
    # v(j) mirrors kernels/riff.synth_audio_samples; zero_crossings
    # counts sign(v)<0 flips between consecutive samples, computed
    # closed-form from v(j-1) (no window function needed)
    return """
WITH a AS (SELECT unnest(generate_series(0, 499)) AS i),
s AS (
  SELECT i, 'aud_' || i AS audio_id,
         8000 AS sample_rate,
         4000 + (i % 7) * 1000 AS n
  FROM a
), samp AS (
  SELECT audio_id, sample_rate, n, i,
         unnest(generate_series(0, n - 1)) AS j
  FROM s
), vals AS (
  SELECT audio_id, sample_rate, n, j,
         ((i * 1103515245 + j * 12345 + 6789) % 2147483648) % 4096 - 2048
           AS v,
         ((i * 1103515245 + (j - 1) * 12345 + 6789) % 2147483648) % 4096
           - 2048 AS vp
  FROM samp
)
SELECT audio_id,
       CAST(min(sample_rate) AS BIGINT) AS sample_rate,
       min(n) AS n_samples,
       (min(n) * 1000) // min(sample_rate) AS duration_ms,
       max(abs(v)) AS peak,
       CAST(sum(CASE WHEN j > 0 AND ((v < 0) <> (vp < 0)) THEN 1 ELSE 0
                     END) AS BIGINT) AS zero_crossings,
       CAST(sum(v * v) AS BIGINT) AS sum_sq
FROM vals
GROUP BY audio_id
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the image->tile assignment pipeline on synthetic data at
    sf0.001 scale — synth images table (BASELINE input_hint schema) ->
    point-in-polygon vs a polygon grid -> z10 tile assignment counts."""
    from tilemaker_spark.sources.synth import images_df, grid_polygons_df
    img = images_df(spark, 2000, with_bytes=False)
    grid = grid_polygons_df(spark, nx=36, ny=17)
    joined = spatial_join.pip_join_broadcast(
        img.select("image_id", "lon", "lat"), grid,
        poly_cols=("poly_id",), index_zoom=5)
    z = 10
    return (
        joined.select(
            TE.lon2tilex(F.col("lon"), z).alias("x"),
            TE.lat2tiley(F.col("lat"), z).alias("y"),
            "poly_id",
        )
        .groupBy("x", "y").agg(
            F.count("*").alias("n_images"),
            F.countDistinct("poly_id").alias("n_polys"))
    )


def q_cover_large(spark, sf_dir):
    """Dual-path tile cover (reference small/large object split,
    src/tile_data.cpp:524-540): covered-tile counts per feature for a
    mixed fixture — 25 large nation boxes (30x20 deg; take the coarse
    z6-cell path + in-worker refine) and small supplier boxes (0.4 deg;
    exact explode).  Oracle: closed-form bbox tile-range product (exact
    for axis-aligned rectangles: boundary supercover + column fill covers
    precisely [tx0..tx1] x [ty0..ty1])."""
    from tilemaker_spark.operators import tiling
    z = 7
    nb = _nation_boxes(spark, sf_dir)
    nat = nb.select(
        F.col("poly_id").cast("long").alias("feature_id"),
        F.lit("nation").alias("layer"),
        F.lit(3).cast("tinyint").alias("kind"),
        F.lit(0).alias("minzoom"),
        F.lit(0).cast("long").alias("zorder"),
        F.create_map().cast("map<string,string>").alias("attrs"),
        F.col("coords").cast("array<double>").alias("coords"),
        F.col("ring_sizes"),
        F.col("poly_ring_counts"),
    )
    s = _t(spark, sf_dir, "supplier")
    lon, lat = synth.geo_point_expr(F.col("s_suppkey"))
    clon = F.greatest(F.lit(-179.5), F.least(F.lit(179.5), lon))
    clat = F.greatest(F.lit(-84.0), F.least(F.lit(84.0), lat))
    lo_x, hi_x = clon - F.lit(0.2), clon + F.lit(0.2)
    lo_y, hi_y = clat - F.lit(0.2), clat + F.lit(0.2)
    sup = s.select(
        F.col("s_suppkey").cast("long").alias("feature_id"),
        F.lit("supplier").alias("layer"),
        F.lit(3).cast("tinyint").alias("kind"),
        F.lit(0).alias("minzoom"),
        F.lit(0).cast("long").alias("zorder"),
        F.create_map().cast("map<string,string>").alias("attrs"),
        F.array(lo_x, lo_y, hi_x, lo_y, hi_x, hi_y, lo_x, hi_y,
                lo_x, lo_y).cast("array<double>").alias("coords"),
        F.array(F.lit(5)).alias("ring_sizes"),
        F.array(F.lit(1)).alias("poly_ring_counts"),
    )
    feats = nat.unionByName(sup)
    cov = tiling.expand_coarse(
        tiling.cover_features(feats, z, large_threshold=16), z)
    return cov.groupBy("layer", "feature_id").agg(
        F.count_distinct("bx", "by").alias("n_tiles"))


def sql_cover_large():
    z = 7
    SUP_LON, SUP_LAT = synth.geo_point_sql("s_suppkey")
    clon = f"least(greatest({SUP_LON}, -179.5), 179.5)"
    clat = f"least(greatest({SUP_LAT}, -84.0), 84.0)"
    nat_tx0 = TE.lon2tilex_sql(NB["minlon"], z)
    nat_tx1 = TE.lon2tilex_sql(NB["maxlon"], z)
    nat_ty0 = TE.lat2tiley_sql(NB["maxlat"], z)
    nat_ty1 = TE.lat2tiley_sql(NB["minlat"], z)
    sup_tx0 = TE.lon2tilex_sql(f"({clon} - 0.2)", z)
    sup_tx1 = TE.lon2tilex_sql(f"({clon} + 0.2)", z)
    sup_ty0 = TE.lat2tiley_sql(f"({clat} + 0.2)", z)
    sup_ty1 = TE.lat2tiley_sql(f"({clat} - 0.2)", z)
    return f"""
SELECT 'nation' AS layer, CAST(n_nationkey AS BIGINT) AS feature_id,
       ({nat_tx1} - {nat_tx0} + 1) * ({nat_ty1} - {nat_ty0} + 1) AS n_tiles
FROM nation
UNION ALL
SELECT 'supplier' AS layer, CAST(s_suppkey AS BIGINT) AS feature_id,
       ({sup_tx1} - {sup_tx0} + 1) * ({sup_ty1} - {sup_ty0} + 1) AS n_tiles
FROM supplier
"""


def q_pip_line(spark, sf_dir):
    """Line-probe Intersects (reference src/osm_lua_processing.cpp:409-465
    with a linestring argument): a synthetic segment per customer
    (point -> point + (0.3, 0.2)) vs the nation boxes, via the covering-
    cell filter + exact segment/ring refine.  Oracle: separating-axis
    test for segment x axis-box (bbox overlap AND box corners not all
    strictly on one side of the segment's line)."""
    from tilemaker_spark.operators.spatial_join import geom_join
    pts = _customer_points(spark, sf_dir)
    probes = pts.select(
        F.col("c_custkey").alias("feature_id"),
        F.lit(1).cast("tinyint").alias("kind"),
        F.array(F.col("lon"), F.col("lat"),
                F.col("lon") + 0.3, F.col("lat") + 0.2)
        .cast("array<double>").alias("coords"),
        F.array(F.lit(2)).alias("ring_sizes"),
        F.array().cast("array<int>").alias("poly_ring_counts"),
    )
    boxes = _nation_boxes(spark, sf_dir)
    out = geom_join(probes, boxes, predicate="intersects", index_zoom=6)
    return out.select(F.col("feature_id").alias("c_custkey"), "poly_id")


def sql_pip_line():
    return f"""
WITH pairs AS (
  SELECT c_custkey, n_nationkey,
         {CUST_LON} AS x0, {CUST_LAT} AS y0,
         ({CUST_LON} + 0.3) AS x1, ({CUST_LAT} + 0.2) AS y1,
         {NB['minlon']} AS bx0, {NB['maxlon']} AS bx1,
         {NB['minlat']} AS by0, {NB['maxlat']} AS by1
  FROM customer, nation
), cr AS (
  SELECT *,
         (x1 - x0) * (by0 - y0) - (y1 - y0) * (bx0 - x0) AS c1,
         (x1 - x0) * (by0 - y0) - (y1 - y0) * (bx1 - x0) AS c2,
         (x1 - x0) * (by1 - y0) - (y1 - y0) * (bx1 - x0) AS c3,
         (x1 - x0) * (by1 - y0) - (y1 - y0) * (bx0 - x0) AS c4
  FROM pairs
)
SELECT c_custkey, CAST(n_nationkey AS INTEGER) AS poly_id
FROM cr
WHERE x1 >= bx0 AND x0 <= bx1 AND y1 >= by0 AND y0 <= by1
  AND NOT (c1 > 0 AND c2 > 0 AND c3 > 0 AND c4 > 0)
  AND NOT (c1 < 0 AND c2 < 0 AND c3 < 0 AND c4 < 0)
"""


def q_covered_by(spark, sf_dir):
    """Polygon-probe CoveredBy (reference :425-439): 0.4-degree supplier
    boxes fully inside a nation box.  Oracle: interval containment."""
    from tilemaker_spark.operators.spatial_join import geom_join
    s = _t(spark, sf_dir, "supplier")
    lon, lat = synth.geo_point_expr(F.col("s_suppkey"))
    clon = F.greatest(F.lit(-179.5), F.least(F.lit(179.5), lon))
    clat = F.greatest(F.lit(-84.0), F.least(F.lit(84.0), lat))
    lo_x, hi_x = clon - F.lit(0.2), clon + F.lit(0.2)
    lo_y, hi_y = clat - F.lit(0.2), clat + F.lit(0.2)
    probes = s.select(
        F.col("s_suppkey").alias("feature_id"),
        F.lit(3).cast("tinyint").alias("kind"),
        F.array(lo_x, lo_y, hi_x, lo_y, hi_x, hi_y, lo_x, hi_y,
                lo_x, lo_y).cast("array<double>").alias("coords"),
        F.array(F.lit(5)).alias("ring_sizes"),
        F.array(F.lit(1)).alias("poly_ring_counts"),
    )
    boxes = _nation_boxes(spark, sf_dir)
    out = geom_join(probes, boxes, predicate="covered_by", index_zoom=6)
    return out.select(F.col("feature_id").alias("s_suppkey"), "poly_id")


def sql_covered_by():
    SUP_LON, SUP_LAT = synth.geo_point_sql("s_suppkey")
    clon = f"least(greatest({SUP_LON}, -179.5), 179.5)"
    clat = f"least(greatest({SUP_LAT}, -84.0), 84.0)"
    return f"""
SELECT s_suppkey, CAST(n_nationkey AS INTEGER) AS poly_id
FROM supplier, nation
WHERE ({clon} - 0.2) >= {NB['minlon']} AND ({clon} + 0.2) <= {NB['maxlon']}
  AND ({clat} - 0.2) >= {NB['minlat']} AND ({clat} + 0.2) <= {NB['maxlat']}
"""


def q_area_intersect(spark, sf_dir):
    """AreaIntersecting (reference src/osm_lua_processing.cpp:441-485):
    planar intersection area of supplier 0.4-degree boxes with nation
    boxes via geom_join(predicate='area') over the from-scratch overlay
    kernel (kernels/overlay.py intersection).  Oracle: closed-form
    rectangle-intersection area — exact for axis-aligned boxes."""
    from tilemaker_spark.operators.spatial_join import geom_join
    s = _t(spark, sf_dir, "supplier")
    lon, lat = synth.geo_point_expr(F.col("s_suppkey"))
    clon = F.greatest(F.lit(-179.5), F.least(F.lit(179.5), lon))
    clat = F.greatest(F.lit(-84.0), F.least(F.lit(84.0), lat))
    lo_x, hi_x = clon - F.lit(0.2), clon + F.lit(0.2)
    lo_y, hi_y = clat - F.lit(0.2), clat + F.lit(0.2)
    probes = s.select(
        F.col("s_suppkey").alias("feature_id"),
        F.lit(3).cast("tinyint").alias("kind"),
        F.array(lo_x, lo_y, hi_x, lo_y, hi_x, hi_y, lo_x, hi_y,
                lo_x, lo_y).cast("array<double>").alias("coords"),
        F.array(F.lit(5)).alias("ring_sizes"),
        F.array(F.lit(1)).alias("poly_ring_counts"),
    )
    boxes = _nation_boxes(spark, sf_dir)
    out = geom_join(probes, boxes, predicate="area", index_zoom=6)
    return out.select(
        F.col("feature_id").alias("s_suppkey"), "poly_id",
        F.round(F.col("area_deg2"), 6).alias("area_deg2"))


def sql_area_intersect():
    SUP_LON, SUP_LAT = synth.geo_point_sql("s_suppkey")
    clon = f"least(greatest({SUP_LON}, -179.5), 179.5)"
    clat = f"least(greatest({SUP_LAT}, -84.0), 84.0)"
    w = (f"greatest(0.0, least({clon} + 0.2, {NB['maxlon']})"
         f" - greatest({clon} - 0.2, {NB['minlon']}))")
    h = (f"greatest(0.0, least({clat} + 0.2, {NB['maxlat']})"
         f" - greatest({clat} - 0.2, {NB['minlat']}))")
    return f"""
SELECT s_suppkey, CAST(n_nationkey AS INTEGER) AS poly_id,
       round(({w}) * ({h}), 6) AS area_deg2
FROM supplier, nation
WHERE ({w}) * ({h}) > 0
"""


def q_rel_members(spark, sf_dir):
    """Relation membership join (reference NextRelation/FindInRelation,
    include/osm_store.h:97-200): orders act as relations whose way members
    are their lineitems (way_id = orderkey*10 + linenumber); each member
    way reads its parent relation's tags + its own role.  The DuckDB twin
    is the direct lineitem x orders join."""
    from tilemaker_spark.operators import relations as rel_ops
    par = spark.sparkContext.defaultParallelism
    li = _t(spark, sf_dir, "lineitem").repartition(
        par, F.col("l_orderkey"))  # 1-file scan -> all cores
    o = _t(spark, sf_dir, "orders").repartition(par, F.col("o_orderkey"))
    # the synthetic lineitem table has duplicate (orderkey, linenumber)
    # rows; dedup to one member per way with a deterministic role
    mem = (
        li.groupBy(
            F.col("l_orderkey"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            .cast("long").alias("ref"))
        .agg(F.min("l_returnflag").alias("role"))
    )
    rels = (
        mem.select(
            F.col("l_orderkey").alias("rel_key"),
            F.struct(F.lit(1).alias("mtype"), "ref", "role").alias("m"))
        .groupBy("rel_key").agg(F.collect_list("m").alias("members"))
        .join(o, F.col("rel_key") == F.col("o_orderkey"))
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("members"),
            F.map_from_arrays(
                F.array(F.lit("priority")),
                F.array(F.col("o_orderpriority"))).alias("tags"))
    )
    ways = mem.select(F.col("ref").alias("id"))
    out = rel_ops.parent_relations(ways, rels, mtype=1)
    return out.select(
        F.col("id").alias("way_id"),
        F.size("rels").alias("n_parents"),
        F.try_element_at("rels", F.lit(1))["rel_tags"]["priority"]
        .alias("parent_priority"),
        F.try_element_at("rels", F.lit(1))["role"].alias("role"),
    )


def sql_rel_members():
    return """
SELECT m.way_id, 1 AS n_parents,
       o_orderpriority AS parent_priority, m.role
FROM (
  SELECT l_orderkey,
         CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS way_id,
         min(l_returnflag) AS role
  FROM lineitem GROUP BY 1, 2
) m JOIN orders ON m.l_orderkey = o_orderkey
"""


def q_poly_union(spark, sf_dir):
    """Polygon union (reference union_many, src/geom.cpp:232-290 /
    tile_worker.cpp:393-404): customers snap to 1-degree cells, each
    occupied cell becomes a unit box; boxes union per 8x8-cell group.
    Union area of unit grid boxes == number of distinct occupied cells
    (shared edges dissolve, duplicates collapse) — the DuckDB-checkable
    invariant.  Merged-component counts are covered in pytest."""
    from tilemaker_spark.kernels import overlay as OV
    pts = _customer_points(spark, sf_dir)
    cells = (
        pts.select(F.floor("lon").cast("long").alias("cx"),
                   F.floor("lat").cast("long").alias("cy"))
        .distinct()
        .withColumn("gx", F.floor(F.col("cx") / 8).cast("long"))
        .withColumn("gy", F.floor(F.col("cy") / 8).cast("long"))
    )

    def union_group(t):
        import numpy as np
        import pyarrow as pa
        boxes = []
        for x0, y0 in zip(t["cx"].to_pylist(), t["cy"].to_pylist()):
            boxes.append([[np.array(
                [[x0, y0], [x0 + 1, y0], [x0 + 1, y0 + 1], [x0, y0 + 1],
                 [x0, y0]], np.float64)]])
        u = OV.union_many(boxes)
        return pa.table({
            "gx": t["gx"][:1], "gy": t["gy"][:1],
            "union_area": [int(round(OV.area_planar(u)))],
        })

    return (
        cells.groupBy("gx", "gy")
        .applyInArrow(union_group,
                      schema="gx long, gy long, union_area long")
    )


def sql_poly_union():
    return f"""
SELECT CAST(floor(cx / 8.0) AS BIGINT) AS gx,
       CAST(floor(cy / 8.0) AS BIGINT) AS gy,
       count(*) AS union_area
FROM (
  SELECT DISTINCT
    CAST(floor({CUST_LON}) AS BIGINT) AS cx,
    CAST(floor({CUST_LAT}) AS BIGINT) AS cy
  FROM customer
)
GROUP BY 1, 2
"""


def q_line_clip(spark, sf_dir):
    """Segment clipping against a tile-style axis box (reference's
    segment-wise linestring clip, src/tile_data.cpp:254-293), via the
    vectorized Liang–Barsky kernel (kernels/geom.py
    clip_segments_to_box).  One world-spanning segment per order (both
    endpoints LCG-derived), clipped to [-60,60]x[-45,45]; the oracle is
    the same parametric clip written as closed-form SQL."""
    from tilemaker_spark.kernels import geom as G

    o = _t(spark, sf_dir, "orders")
    lon0, lat0 = synth.geo_point_expr(F.col("o_orderkey"))
    lon1, lat1 = synth.geo_point_expr(F.col("o_orderkey") * 31 + 7)
    seg = o.select(F.col("o_orderkey"), lon0.alias("x0"), lat0.alias("y0"),
                   lon1.alias("x1"), lat1.alias("y1"))

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        for b in batches:
            if not b.num_rows:
                continue
            key, x0, y0, x1, y1 = (c.to_numpy() for c in b.columns)
            ok, ca, cb = G.clip_segments_to_box(
                np.column_stack([x0, y0]), np.column_stack([x1, y1]),
                -60.0, -45.0, 60.0, 45.0)
            yield pa.record_batch(
                [key[ok], *(np.round(p[ok, i], 7)
                            for p in (ca, cb) for i in (0, 1))],
                ["o_orderkey", "cx0", "cy0", "cx1", "cy1"])

    return seg.mapInArrow(
        gen, "o_orderkey long, cx0 double, cy0 double, "
             "cx1 double, cy1 double")


def sql_line_clip():
    lon1, lat1 = synth.geo_point_sql("(o_orderkey * 31 + 7)")
    tpar = []
    for v0, dv, lo, hi in (("x0", "dx", -60.0, 60.0),
                           ("y0", "dy", -45.0, 45.0)):
        tpar.append(
            f"CASE WHEN {dv} <> 0 THEN least(({lo} - {v0}) / {dv},"
            f" ({hi} - {v0}) / {dv})"
            f" WHEN {v0} >= {lo} AND {v0} <= {hi} THEN 0.0"
            f" ELSE 2.0 END AS tmin{dv}")
        tpar.append(
            f"CASE WHEN {dv} <> 0 THEN greatest(({lo} - {v0}) / {dv},"
            f" ({hi} - {v0}) / {dv})"
            f" WHEN {v0} >= {lo} AND {v0} <= {hi} THEN 1.0"
            f" ELSE -1.0 END AS tmax{dv}")
    return f"""
WITH seg AS (
  SELECT o_orderkey, {ORD_LON} AS x0, {ORD_LAT} AS y0,
         {lon1} AS x1, {lat1} AS y1
  FROM orders
), dseg AS (
  SELECT *, (x1 - x0) AS dx, (y1 - y0) AS dy FROM seg
), par AS (
  SELECT *, {', '.join(tpar)} FROM dseg
), lam AS (
  SELECT *, greatest(0.0, tmindx, tmindy) AS t0,
            least(1.0, tmaxdx, tmaxdy) AS t1
  FROM par
)
SELECT o_orderkey,
       round(x0 + t0 * dx, 7) AS cx0, round(y0 + t0 * dy, 7) AS cy0,
       round(x0 + t1 * dx, 7) AS cx1, round(y0 + t1 * dy, 7) AS cy1
FROM lam WHERE t0 <= t1
"""


def q_getdata_lookup(spark, sf_dir):
    """GetData/SetData (reference src/osm_lua_processing.cpp:203-210):
    a small external k/v table (nation key -> name) materialized with
    collect_data and applied inside a profile rule via get_data_expr —
    the Lua API's SetData store as a plan-literal broadcast map."""
    from tilemaker_spark.plans import profile as prof

    data = prof.collect_data(
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").cast("string").alias("nk"), "n_name"),
        "nk", "n_name")
    lookup = prof.get_data_expr(data)
    nodes = _customer_points(spark, sf_dir).select(
        F.col("c_custkey").alias("id"), "lon", "lat",
        F.create_map(F.lit("nat"),
                     F.col("c_nationkey").cast("string")).alias("tags"))
    rules = [prof.LayerRule(
        layer="places", source="node",
        match=lambda: prof.holds("nat"),
        attrs={"nname": lambda: lookup(prof.find("nat"))})]
    feats = prof.Profile(rules).apply(nodes=nodes)
    return feats.select(
        F.col("feature_id").alias("c_custkey"),
        F.element_at(F.col("attrs"), "nname").alias("nname"))


def sql_getdata_lookup():
    return """
SELECT c_custkey, n_name AS nname
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def q_label_centroid(spark, sf_dir):
    """LayerAsCentroid(layer, role...) + Centroid("centroid") (reference
    src/osm_lua_processing.cpp:749-943): nations as relation polygons;
    nations 0-19 get node members (customers, roles by c_custkey % 3:
    0 -> 'label', 1 -> 'admin_centre', 2 -> 'outer'), so their label
    point is the preferred role member's coordinates; nations 20-24 have
    no matching member and fall back to the area-centroid algorithm
    (box midpoint).  Oracle: role-priority window + closed-form
    midpoint."""
    from tilemaker_spark.plans import profile as prof

    boxes = _nation_boxes(spark, sf_dir)
    rel_geoms = boxes.select(
        F.col("poly_id").cast("long").alias("id"),
        "coords", "ring_sizes", "poly_ring_counts")
    cust = _customer_points(spark, sf_dir)
    members = (
        cust.filter((F.col("c_custkey") % 25) < 20)
        .select(
            (F.col("c_custkey") % 25).cast("long").alias("id"),
            F.struct(
                F.when(F.col("c_custkey") % 3 == 2, F.lit(1))
                .otherwise(F.lit(0)).cast("int").alias("mtype"),
                F.col("c_custkey").cast("long").alias("ref"),
                F.when(F.col("c_custkey") % 3 == 0, F.lit("label"))
                .when(F.col("c_custkey") % 3 == 1, F.lit("admin_centre"))
                .otherwise(F.lit("outer")).alias("role"),
            ).alias("m"))
        .groupBy("id").agg(F.collect_list("m").alias("members")))
    relations = members.select(
        "id", "members",
        F.create_map(F.lit("type"), F.lit("boundary")).alias("tags"))
    nodes = cust.select(F.col("c_custkey").alias("id"), "lon", "lat",
                        F.create_map().cast("map<string,string>")
                        .alias("tags"))
    rules = [prof.LayerRule(
        layer="place", source="relation", match=lambda: F.lit(True),
        as_centroid=True, centroid_algorithm="centroid",
        centroid_roles=("label", "admin_centre"))]
    feats = prof.Profile(rules).apply(
        nodes=nodes, rel_geoms=rel_geoms, relations=relations)
    return feats.select(
        F.col("feature_id").alias("poly_id"),
        F.round(F.element_at("coords", 1), 6).alias("label_lon"),
        F.round(F.element_at("coords", 2), 6).alias("label_lat"))


def sql_label_centroid():
    return f"""
WITH mem AS (
  SELECT (c_custkey % 25) AS nk, c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 2 END AS pri
  FROM customer
  WHERE (c_custkey % 25) < 20 AND (c_custkey % 3) < 2
), best AS (
  SELECT nk, c_custkey FROM (
    SELECT nk, c_custkey,
           row_number() OVER (PARTITION BY nk
                              ORDER BY pri, c_custkey) AS rk
    FROM mem) t WHERE rk = 1
)
SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
       round(CASE WHEN best.c_custkey IS NOT NULL THEN {CUST_LON.replace('c_custkey', 'best.c_custkey')}
                  ELSE ({NB['minlon']} + {NB['maxlon']}) / 2 END, 6)
           AS label_lon,
       round(CASE WHEN best.c_custkey IS NOT NULL THEN {CUST_LAT.replace('c_custkey', 'best.c_custkey')}
                  ELSE ({NB['minlat']} + {NB['maxlat']}) / 2 END, 6)
           AS label_lat
FROM nation LEFT JOIN best ON n_nationkey = best.nk
"""


def q_simplify(spark, sf_dir):
    """Douglas-Peucker + Visvalingam simplify (reference
    src/geom.cpp:119-124, src/visvalingam.cpp) on a staircase fixture
    with exactly-collinear runs: integer-degree steps make intermediate
    points exactly collinear (perpendicular distance / triangle area
    exactly 0), so both algorithms keep precisely the endpoints and the
    three corners — a closed-form SQL twin.  Even orderkeys run DP,
    odd ones Visvalingam."""
    from tilemaker_spark.kernels import geom as G
    from tilemaker_spark.operators.rows import map_rows

    o = _t(spark, sf_dir, "orders")
    lon, lat = synth.geo_point_expr(F.col("o_orderkey"))
    base = o.select(
        "o_orderkey",
        F.greatest(F.lit(-170.0), F.least(F.lit(150.0), lon)).alias("x0"),
        F.greatest(F.lit(-80.0), F.least(F.lit(60.0), lat)).alias("y0"),
        (F.col("o_orderkey") % 3 + 1).cast("int").alias("r1"),
        (F.floor(F.col("o_orderkey") / 3) % 3 + 1).cast("int").alias("r2"),
        (F.floor(F.col("o_orderkey") / 9) % 3 + 1).cast("int").alias("r3"),
        F.lit(2).alias("r4"),
    )

    def simplify(key, x0, y0, *runs):
        import numpy as np
        # integer offsets + ONE float add per point, so corner
        # coordinates are bit-identical to the oracle's
        # x0 + (integer sum) regardless of association order
        pts = [(x0, y0)]
        ox = oy = 0
        for d, r in zip(((1, 0), (0, 1), (1, 0), (0, 1)), runs):
            for _ in range(r):
                ox, oy = ox + d[0], oy + d[1]
                pts.append((x0 + ox, y0 + oy))
        line = np.asarray(pts, np.float64)
        # tol sits far above float collinearity noise (~1e-12 at
        # these magnitudes) and far below any true corner's
        # distance/area (>= ~0.09), so both algorithms keep
        # exactly endpoints + corners
        out = (G.douglas_peucker(line, 1e-6) if key % 2 == 0
               else G.visvalingam(line, 1e-6))
        for i, (px, py) in enumerate(out):
            yield key, i, px, py

    return map_rows(base, base.columns, "o_orderkey long, pt int, "
                    "x double, y double", simplify)


def sql_simplify():
    x0 = f"greatest(-170.0, least(150.0, {ORD_LON}))"
    y0 = f"greatest(-80.0, least(60.0, {ORD_LAT}))"
    return f"""
WITH p AS (
  SELECT o_orderkey, {x0} AS x0, {y0} AS y0,
         (o_orderkey % 3 + 1) AS r1,
         (CAST(floor(o_orderkey / 3) AS BIGINT) % 3 + 1) AS r2,
         (CAST(floor(o_orderkey / 9) AS BIGINT) % 3 + 1) AS r3,
         2 AS r4
  FROM orders
)
SELECT o_orderkey, 0 AS pt, x0 AS x, y0 AS y FROM p
UNION ALL
SELECT o_orderkey, 1, x0 + r1, y0 FROM p
UNION ALL
SELECT o_orderkey, 2, x0 + r1, y0 + r2 FROM p
UNION ALL
SELECT o_orderkey, 3, x0 + (r1 + r3), y0 + r2 FROM p
UNION ALL
SELECT o_orderkey, 4, x0 + (r1 + r3), y0 + (r2 + r4) FROM p
"""


def q_raster_roundtrip(spark, sf_dir):
    """Raster<->vector tile assembly (north-star graft op; the reference
    is vector-only): nation boxes -> PNG raster tiles at z3 (scanline
    fill, kernels/raster.py) -> traced back to polygons
    (boundary-chaining vectorizer) -> per-tile polygon counts + TRACED
    pixel area (shoelace of the traced rings in pixel coords).

    Oracle-checkable (round-3 gap closed): for axis-aligned boxes the
    scanline fill produces closed-form pixel rectangles, so per-tile
    polygon counts and the traced area have an exact SQL twin — the
    oracle exercises BOTH the rasterizer (pixel-center fill rule) and
    the tracer (ring shoelace == filled pixel count)."""
    from tilemaker_spark.operators import raster as raster_ops

    boxes = _nation_boxes(spark, sf_dir)
    feats = boxes.select(
        F.col("poly_id").cast("long").alias("feature_id"),
        F.lit("nation").alias("layer"),
        F.lit(3).cast("tinyint").alias("kind"),
        F.lit(0).alias("minzoom"), F.lit(0).cast("long").alias("zorder"),
        F.create_map().cast("map<string,string>").alias("attrs"),
        "coords", "ring_sizes", "poly_ring_counts")
    tiles = raster_ops.render_raster_tiles(feats, zoom=3, size=64)
    traced = raster_ops.raster_to_features(tiles)
    return traced.select(
        "z", "x", "y",
        F.size("poly_ring_counts").alias("n_polys"),
        F.size("ring_sizes").alias("n_rings"),
        F.col("attrs")["area_px"].cast("long").alias("area_px"))


def sql_raster_roundtrip():
    # Closed-form raster twin: each nation box clips into each z3 tile
    # as a pixel rectangle under the renderer's pixel-center fill rule
    # (kernels/raster.py fill_polygon): cols a..b with a =
    # ceil(px0-0.5), b = floor(px1-0.5); rows r0..r1 with the half-open
    # crossing rule r1 = ceil(py_bot-0.5)-1; all clamped to [0,63].
    # Boxes are disjoint with >=10px gaps, so per-tile traced polygons
    # = nonempty rects and traced area = sum of rect areas.
    latp = ("degrees(ln(tan(radians({lat} + 90.0) / 2.0)))")
    return f"""
WITH boxes AS (
  SELECT n_nationkey AS k,
         (-150.0 + (n_nationkey % 5) * 60.0) AS minlon,
         (-150.0 + (n_nationkey % 5) * 60.0 + 30.0) AS maxlon,
         (-70.0 + cast(floor(n_nationkey / 5) as int) * 30.0) AS minlat,
         (-70.0 + cast(floor(n_nationkey / 5) as int) * 30.0 + 20.0)
           AS maxlat
  FROM nation
), grid AS (
  SELECT gx.range AS x, gy.range AS y FROM range(0, 8) gx, range(0, 8) gy
), pix AS (
  SELECT k, x, y,
    greatest(0, ceil(((minlon + 180.0)/360.0*8.0 - x)*64.0 - 0.5)) AS a,
    least(63, floor(((maxlon + 180.0)/360.0*8.0 - x)*64.0 - 0.5)) AS b,
    greatest(0, ceil(((180.0 - {latp.format(lat='maxlat')})/360.0*8.0
                      - y)*64.0 - 0.5)) AS r0,
    least(63, ceil(((180.0 - {latp.format(lat='minlat')})/360.0*8.0
                    - y)*64.0 - 0.5) - 1) AS r1
  FROM boxes, grid
), npx AS (
  SELECT k, x, y,
    (CASE WHEN b >= a AND r1 >= r0
          THEN (b - a + 1) * (r1 - r0 + 1) ELSE 0 END) AS npix
  FROM pix
)
SELECT 3 AS z, x, y,
       cast(count(*) as int) AS n_polys,
       cast(count(*) as int) AS n_rings,
       cast(sum(npix) as bigint) AS area_px
FROM npx WHERE npix > 0
GROUP BY x, y
"""


def q_asof_join(spark, sf_dir):
    """Backward-inclusive AS-OF join (operators/temporal.asof_join):
    every click event attaches the latest prior (ties inclusive)
    purchase of the same user — the attribution query time-series
    engines ship natively and vanilla Spark lacks.  Union-merge plan:
    ONE shuffle on user_id, one window pass, no UDF, never quadratic.
    The right side is pre-aggregated to unique (user, ts) as any as-of
    engine requires.  The oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``
    — a fully independent implementation of the same semantics.  The
    gap rides as exact integer microseconds (unix_micros/epoch_us), so
    no float canonicalization is involved."""
    from tilemaker_spark.operators import temporal
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("purchase_value")))
    out = temporal.asof_join(clicks, purchases, keys=["user_id"])
    return out.select(
        "event_id", "user_id", "purchase_value",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("matched_ts").cast("timestamp")))
        .alias("gap_us"))


def sql_asof_join():
    return """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, r.purchase_value,
       epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_interval_join(spark, sf_dir):
    """Interval-containment join (operators/temporal.interval_join):
    15k cohort-scoped campaign windows (derived deterministically from
    orders, shifted into the events month) x the events stream -> per-
    campaign event count + integer value sum.  Spark plan: points get
    one day-bin, intervals explode to their covered day-bins
    (sequence), plain equi-join on (cohort, bin), exact containment
    filter — no cross product, no inequality join, AQE/salting apply
    unchanged.  The oracle is DuckDB's direct inequality join (BETWEEN)
    over the identical interval derivation.  Sum is floor(value) per
    event (bit-identical IEEE on both engines) so re-aggregation order
    cannot perturb the hash."""
    from tilemaker_spark.operators import temporal
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "ts", "value",
                  (F.col("user_id") % 100).alias("cohort")))
    iv = (_t(spark, sf_dir, "orders")
          .select(
              "o_orderkey",
              (F.col("o_custkey") % 100).alias("cohort"),
              F.expr("timestampadd(HOUR, int(o_orderkey % 672), "
                     "TIMESTAMP '2024-01-01')").alias("iv_start"))
          .withColumn("iv_end", F.expr(
              "timestampadd(HOUR, int(1 + o_orderkey % 47), iv_start)")))
    j = temporal.interval_join(ev, iv, point_ts="ts", keys=["cohort"],
                               bin_seconds=86400)
    return (j.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.floor("value")).alias("sum_value_floor")))


def sql_interval_join():
    return """
WITH iv AS (
  SELECT o_orderkey, o_custkey % 100 AS cohort,
         TIMESTAMP '2024-01-01'
           + INTERVAL 1 HOUR * (o_orderkey % 672) AS iv_start,
         TIMESTAMP '2024-01-01'
           + INTERVAL 1 HOUR * (o_orderkey % 672)
           + INTERVAL 1 HOUR * (1 + o_orderkey % 47) AS iv_end
  FROM orders
)
SELECT iv.o_orderkey, count(*) AS n_events,
       CAST(sum(CAST(floor(e.value) AS BIGINT)) AS BIGINT) AS sum_value_floor
FROM iv JOIN events e
  ON e.user_id % 100 = iv.cohort AND e.ts BETWEEN iv.iv_start AND iv.iv_end
GROUP BY iv.o_orderkey
"""


_BOILER = ("free shipping on all orders click here to subscribe now")


def q_boilerplate(spark, sf_dir):
    """C4-style boilerplate-LINE removal (operators/text.py
    remove_boilerplate_lines): drop every 10-word line occurring in >= 3
    distinct documents, rewrite each doc from its survivors, fingerprint
    the rewritten bytes.  The corpus is organic word soup with no real
    boilerplate, so a 10-word ad phrase is deterministically planted
    into words 11-20 of every doc_id%7==0 document (>= 21 words) —
    exercising the REMOVAL path; both engines plant identically.
    3 shuffles (line freq agg + anti-join + per-doc re-agg), zero UDF,
    no self-join; the hot-line dictionary is the only distinct state."""
    from tilemaker_spark.operators import text as text_ops2
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    planted = d.select(
        "doc_id",
        F.when((F.col("doc_id") % 7 == 0) & (F.size(words) >= 21),
               F.array_join(F.concat(
                   F.slice(words, 1, 10),
                   F.split(F.lit(_BOILER), " "),
                   F.slice(words, 21, 1 << 30)), " "))
        .otherwise(F.col("text")).alias("text"))
    return text_ops2.remove_boilerplate_lines(planted)


def sql_boilerplate():
    from tilemaker_spark.operators import text as text_ops2
    boiler_list = "['" + "','".join(_BOILER.split(" ")) + "']"
    plant = f"""
SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 21
       THEN array_to_string(list_concat(list_concat(
              string_split(text, ' ')[1:10], {boiler_list}),
              string_split(text, ' ')[21:len(string_split(text, ' '))]), ' ')
       ELSE text END AS text
FROM documents"""
    return text_ops2.remove_boilerplate_oracle_sql(source_cte=plant)


def q_scd2(spark, sf_dir):
    """Type-2 slowly-changing-dimension build
    (operators/temporal.scd2_history): the events log as a change log
    of each user's event_type attribute — consecutive identical values
    collapse, each kept version carries [valid_from_us, valid_to_us)
    in exact epoch microseconds plus version/is_current.  ONE shuffle:
    the lag pass, the change filter, and the lead/row_number pass all
    share the user_id partitioning.  The oracle replays the identical
    lag -> filter -> lead chain."""
    return temporal_ops.scd2_history(_t(spark, sf_dir, "events"))


def sql_scd2():
    return """
WITH log AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS timestamp)) AS t_us, event_id
  FROM events
),
lagged AS (
  SELECT user_id, event_type, t_us, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY t_us, event_id) AS prev
  FROM log
),
changes AS (
  SELECT user_id, event_type, t_us AS valid_from_us, event_id
  FROM lagged WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, valid_from_us,
       lead(valid_from_us) OVER w AS valid_to_us,
       CAST(row_number() OVER w AS INT) AS version,
       (lead(valid_from_us) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)
"""


def q_chunk_docs(spark, sf_dir):
    """RAG-style overlapping token-window chunking
    (operators/text.chunk_docs): 32-token chunks advancing by 24, md5
    of each re-joined chunk so the oracle verifies the slicing itself.
    Pure Catalyst split/posexplode/slice — zero shuffles, zero
    Python."""
    return text_ops.chunk_docs(_t(spark, sf_dir, "documents"),
                               size=32, stride=24)


def sql_chunk_docs(size: int = 32, stride: int = 24):
    toks = (r"string_split(trim(regexp_replace(lower(text), '\s+', ' ',"
            r" 'g')), ' ')")
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS t FROM documents
),
nc AS (
  SELECT doc_id, t,
         1 + (greatest(0, len(t) - {size}) + {stride - 1}) // {stride}
           AS n_chunks
  FROM base
)
SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
       CAST(g.i * {stride} AS INT) AS start_tok,
       CAST(len(t[g.i * {stride} + 1 : g.i * {stride} + {size}]) AS INT)
         AS n_tok,
       md5(array_to_string(
           t[g.i * {stride} + 1 : g.i * {stride} + {size}], ' '))
         AS chunk_md5
FROM nc, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
"""


def q_lm_surprise(spark, sf_dir):
    """Corpus-LM quality score (operators/text.bigram_surprise): every
    document scored by the scaled-integer reciprocal of its bigrams'
    conditional probability under the corpus bigram model — the CCNet
    perplexity-filter shape with zero floating point, so the sums hash
    identically cross-engine.  Corpus text explodes once per side
    (model + scoring), the model is vocabulary-sized, never a
    self-join."""
    return text_ops.bigram_surprise(_t(spark, sf_dir, "documents"))


def sql_lm_surprise(scale: int = 1_000_000):
    toks = (r"string_split(trim(regexp_replace(lower(text), '\s+', ' ',"
            r" 'g')), ' ')")
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS t FROM documents
),
occ AS (
  SELECT doc_id, t[g.i] AS pfx, t[g.i] || ' ' || t[g.i + 1] AS bg
  FROM base, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
counts AS (
  SELECT pfx, bg, count(*) AS c_bg FROM occ GROUP BY pfx, bg
),
model AS (
  SELECT bg, c_bg,
         sum(c_bg) OVER (PARTITION BY pfx) AS c_pfx
  FROM counts
)
SELECT o.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(({scale} * m.c_pfx) // m.c_bg) AS BIGINT) AS surprise_sum,
       CAST(CAST(sum(({scale} * m.c_pfx) // m.c_bg) AS BIGINT)
            // count(*) AS BIGINT) AS score
FROM occ o JOIN model m USING (bg)
GROUP BY o.doc_id
"""


class Query(NamedTuple):
    """One registry row: the Spark query, its DuckDB oracle SQL builder,
    an optional plan budget and whether ``bench.py`` times it.

    ``budget`` is (max exchanges, min broadcasts, max Python nodes) over
    the formatted physical plan at sf0.001, gated by
    ``tests/test_plan_audit.py``: ceilings locked from the round-4 plans
    (``tools/plan_audit.py``); loosen one deliberately, with a comment,
    only when a plan change is intended."""
    query: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]
    budget: tuple[int, int, int] | None = None
    bench: bool = True


# the one table of query membership: queries(), oracle_sql(), bench.py's
# headline list and the plan-audit budgets all derive from it
REGISTRY: dict[str, Query] = {
    "tile_assign": Query(q_tile_assign, sql_tile_assign, (1, 0, 0)),
    # quadkey/geohash: distinct-agg + rollup = 2 exchanges, pure codegen
    "quadkey": Query(q_quadkey, sql_quadkey, (2, 0, 0)),
    "geohash": Query(q_geohash, sql_geohash, (2, 0, 0)),
    "cell_index": Query(q_cell_index, sql_cell_index),
    "hex_index": Query(q_hex_index, sql_hex_index),
    # s2_cells: pure-Catalyst trig + Hilbert bit fold, ONE groupBy
    # shuffle on the compact cell key, zero UDF
    "s2_cells": Query(q_s2_cells, sql_s2_cells, (1, 0, 0)),
    # adaptive_cells: ONE finest-level count shuffle over the data
    # (checkpointed), then one tiny rollup agg per level over the
    # counts table (z_max - z_coarse = 6) — 7 exchanges, every coarser
    # level broadcast back, zero Python
    "adaptive_cells": Query(q_adaptive_cells, sql_adaptive_cells, (7, 6, 0)),
    # geo_corpus: fine-count shuffle (checkpointed) + 5 rollup aggs
    # over the counts table + ONE leaf-key rollup; the fine->leaf
    # mapping and every coarser level broadcast back (z_max-z_coarse=5)
    "geo_corpus": Query(q_geo_corpus, sql_geo_corpus, (7, 6, 0)),
    "pip_broadcast": Query(q_pip_broadcast, sql_pip, (0, 2, 1)),
    "pip_cell": Query(q_pip_cell, sql_pip, (0, 2, 1)),
    # zonal_stats: the broadcast PIP join + ONE map-side-combined
    # rollup shuffle on the zone id
    "zonal_stats": Query(q_zonal_stats, sql_zonal_stats, (1, 2, 1)),
    # tile_budget: tile-count shuffle + per-zoom rank window over the
    # counts table + |zooms|-row rollup; pure Catalyst tile math
    "tile_budget": Query(q_tile_budget, sql_tile_budget, (3, 0, 0)),
    "knn": Query(q_knn, sql_knn, (1, 2, 0)),
    # radius_join: AQE broadcasts both tiny sf0.001 sides; the single
    # exchange is the (query,cand) dedup shuffle. Zero Python always.
    "radius_join": Query(q_radius_join, sql_radius_join, (1, 2, 0)),
    "way_assembly": Query(q_way_assembly, sql_way_assembly, (4, 4, 0)),
    "spherical_area": Query(q_spherical_area, sql_spherical_area, bench=False),
    "zorder_topk": Query(q_zorder_topk, sql_zorder_topk, (1, 0, 0)),
    "tiles_rollup": Query(q_tiles_rollup, sql_tiles_rollup),
    "minzoom_filter": Query(q_minzoom_filter, sql_minzoom_filter, bench=False),
    "combine_points": Query(q_combine_points, sql_combine_points, bench=False),
    "area_filter": Query(q_area_filter, sql_area_filter, bench=False),
    "pricing_summary": Query(q_pricing_summary, sql_pricing_summary),
    "shipping_priority": Query(q_shipping_priority, sql_shipping_priority),
    "events_window": Query(q_events_window, sql_events_window, bench=False),
    # sliding_users: window explode + two-phase distinct agg
    "sliding_users": Query(q_sliding_users, sql_sliding_users, (2, 0, 0)),
    "dedup_exact": Query(q_dedup_exact, sql_dedup_exact, (1, 0, 0)),
    "text_stats": Query(q_text_stats, text_ops.text_stats_oracle_sql),
    "lang_id": Query(q_lang_id, text_ops.lang_scores_oracle_sql, bench=False),
    # bpe_tokens: pure projection/filter (zero shuffles)
    "bpe_tokens": Query(
        q_bpe_tokens, text_ops.bpe_token_count_oracle_sql, (0, 0, 0)),
    "fingerprint": Query(q_fingerprint, sql_fingerprint, bench=False),
    # tfidf = tf agg + df agg + idf join + per-doc top-k window (4
    # exchanges, term dim broadcast at test scale), zero Python nodes
    "tfidf_terms": Query(
        q_tfidf_terms, text_ops.tfidf_top_terms_oracle_sql, (4, 0, 0)),
    # scd2: lag pass, change filter, lead/row_number all share ONE
    # user_id exchange; pure JVM window code
    "scd2": Query(q_scd2, sql_scd2, (1, 0, 0)),
    # chunk_docs: map-only split/posexplode/slice/md5 — zero shuffles
    "chunk_docs": Query(q_chunk_docs, sql_chunk_docs, (0, 0, 0)),
    # lm_surprise: (pfx,bg) count agg + pfx window + per-doc sum = 3
    # exchanges; the vocabulary-sized model broadcasts at test scale
    "lm_surprise": Query(q_lm_surprise, sql_lm_surprise, (3, 0, 0)),
    # retrieval_eval = broadcast query side + corpus scan + top-k window
    # + label joins on the tiny top-k result (both label lookups
    # broadcast), zero Python nodes
    "retrieval_eval": Query(q_retrieval_eval, sql_retrieval_eval, (2, 3, 0)),
    # repetition is a pure map-only projection;
    # bpe_pairs = corpus->vocab agg + pair agg (2 shuffles, both with
    # map-side partial agg); substring_dups = gram groupBy + pair re-agg
    # (2 shuffles, in-group pair expansion — no self-join)
    "repetition": Query(
        q_repetition, text_ops.repetition_metrics_oracle_sql, (0, 0, 0)),
    "bpe_pairs": Query(
        q_bpe_pairs, text_ops.bpe_merge_counts_oracle_sql, (2, 0, 0)),
    "substring_dups": Query(
        q_substring_dups,
        partial(substrings_ops.substring_dup_pairs_oracle_sql, length=20),
        (2, 0, 0)),
    "ngram_jaccard": Query(q_ngram_jaccard, sql_ngram_jaccard, (2, 2, 0)),
    # prefix join = freq agg + window + token join + pair distinct +
    # verify (checkpointed subtrees hide their upstream exchanges from
    # the final plan but the candidate path still shows the distinct +
    # join shuffles)
    "jaccard_prefix": Query(
        q_jaccard_prefix, partial(sql_ngram_jaccard, threshold=0.7),
        (4, 0, 0)),
    "dedup_clusters": Query(q_dedup_clusters, sql_dedup_clusters),
    "dedup_canonical": Query(
        q_dedup_canonical, sql_dedup_canonical, bench=False),
    # flagship composition: exact-dedup agg + survivor
    # repartition + components distincts + canonical window = 6
    # exchanges; the exact-survivor dim is broadcast; the LSH Arrow
    # stages live behind the components checkpoint (ExistingRDD), so
    # the final DAG itself carries zero Python nodes
    "corpus_dedup": Query(q_corpus_dedup, sql_corpus_dedup, (6, 1, 0)),
    "cover_large": Query(q_cover_large, sql_cover_large, (3, 0, 2)),
    "poly_union": Query(q_poly_union, sql_poly_union, (2, 0, 1)),
    "area_intersect": Query(q_area_intersect, sql_area_intersect, (3, 6, 3)),
    "rel_members": Query(q_rel_members, sql_rel_members, (4, 4, 0)),
    "pip_line": Query(q_pip_line, sql_pip_line, (3, 6, 3)),
    "covered_by": Query(q_covered_by, sql_covered_by, (3, 6, 3)),
    "minhash_pairs": Query(q_minhash_pairs, sql_minhash_pairs, (3, 8, 1)),
    "simhash_dups": Query(q_simhash_dups, sql_simhash_dups, bench=False),
    "ann_topk": Query(q_ann_topk, sql_ann_topk),
    # 2 Arrow nodes exactly: a regression to 3+ means the join's null
    # guard is re-evaluating an assign/sig UDF over the candidate set
    "ann_ivf": Query(q_ann_ivf, sql_ann_ivf, (2, 1, 2)),
    # clip_gate: pair-index equi-join (one side broadcast at test
    # scale); quantize + int dot pure Catalyst, zero Python
    "clip_gate": Query(q_clip_gate, sql_clip_gate, (2, 1, 0)),
    # emb_dups: declared broadcast O(n²) exact baseline — the
    # broadcast is the point, zero shuffles, zero Python.  Not benched:
    # it is the exact ground-truth baseline (oracle-checked at sf0.01);
    # at sf0.1 its 12.5M-pair broadcast loop costs ~12s by design and
    # would read as a headline regression rather than a baseline
    "emb_dups": Query(q_emb_dups, sql_emb_dups, (0, 1, 0), bench=False),
    # media queries are single linear synth -> encode -> mapInArrow
    # chains: zero shuffles, by construction
    "video_frames": Query(
        q_video_frames, sql_video_frames, (0, 0, 2), bench=False),
    "audio_features": Query(
        q_audio_features, sql_audio_features, (0, 0, 2), bench=False),
    "phash_clusters": Query(q_phash_clusters, sql_phash_clusters),
    # hilbert: one per-tile groupBy shuffle; the curve fold itself is
    # a pure-Catalyst F.aggregate (zero UDF)
    "hilbert": Query(q_hilbert, sql_hilbert, (1, 0, 0)),
    # salt_plan: ONE map-side-combinable count shuffle, zero Python
    "salt_plan": Query(q_salt_plan, sql_salt_plan, (1, 0, 0)),
    # wkb_pip: pack + parse Arrow nodes on the 25-polygon dim, the dim
    # broadcasts into the ray-cast join, zero shuffles
    "wkb_pip": Query(q_wkb_pip, sql_wkb_pip, (0, 1, 2)),
    # filter_funnel: map-only gates + one tiny rollup shuffle
    "filter_funnel": Query(q_filter_funnel, sql_filter_funnel, (1, 0, 0)),
    # pip_anti: broadcast left_anti nested loop, zero shuffles/Python
    "pip_anti": Query(q_pip_anti, sql_pip_anti, (0, 1, 0)),
    # wkb_points: pack UDF + vectorized parse (2 Arrow nodes) + one
    # per-tile count shuffle
    "wkb_points": Query(q_wkb_points, sql_wkb_points, (1, 0, 2)),
    # dirty_tiles: full-outer join on the id + distinct on the small
    # dirty set (AQE may broadcast a side at test scale), zero Python
    "dirty_tiles": Query(q_dirty_tiles, sql_dirty_tiles, (3, 0, 0)),
    # ar_bucket is a pure-Catalyst integer argmin (zero UDF, zero
    # shuffles); corrupt_scan is the standard encode + decode-classify
    # chain (2 Arrow nodes, map-only)
    "ar_bucket": Query(q_ar_bucket, sql_ar_bucket, (0, 0, 0)),
    "corrupt_scan": Query(q_corrupt_scan, sql_corrupt_scan, (0, 0, 2)),
    # image_meta: header parse is pure Catalyst — the single Arrow
    # node is the synth encoder, not the operator
    "image_meta": Query(q_image_meta, sql_image_meta, (0, 0, 1)),
    # image_canonical = pairs/components behind checkpoints + left join
    # + survivor window (5 exchanges, ZERO Python in the final DAG)
    "image_canonical": Query(
        q_image_canonical, sql_image_canonical, (5, 0, 0)),
    # multimodal_dups: phash chunk-pair distinct (2 exchanges) with
    # the caption equi-join + intersection broadcast at test scale;
    # zero Python nodes — all three pair sets pure Catalyst
    "multimodal_dups": Query(
        q_multimodal_dups, sql_multimodal_dups, (2, 2, 0)),
    # geo_dedup: cell+chunk equi-join (one side broadcast at test
    # scale) + pair distinct; pure Catalyst
    "geo_dedup": Query(q_geo_dedup, sql_geo_dedup, (2, 1, 0)),
    # upsert: key distinct + left_anti (delta broadcast at CDC scale)
    # + unionByName
    "upsert": Query(q_upsert, sql_upsert, (1, 1, 0)),
    "image_quality": Query(q_image_quality, sql_image_quality, bench=False),
    # image-transform chains (resize, letterbox, augment, grayscale,
    # patchify): gradient-encode Arrow UDF + resize/augment mapInArrow
    # + checksum mapInArrow = 3 Arrow stages, map-only (zero shuffles)
    # by construction
    "resize_check": Query(
        q_resize_check, sql_resize_check, (0, 0, 3), bench=False),
    "letterbox_check": Query(
        q_letterbox_check, sql_letterbox_check, (0, 0, 3)),
    # orientation_check: gradient-encode UDF + orient mapInArrow +
    # checksum mapInArrow, map-only like the other transform chains
    "orientation_check": Query(
        q_orientation_check, sql_orientation_check, (0, 0, 3)),
    "augment_check": Query(
        q_augment_check, sql_augment_check, (0, 0, 3), bench=False),
    "grayscale_check": Query(
        q_grayscale_check, sql_grayscale_check, (0, 0, 3)),
    "patchify_check": Query(
        q_patchify_check, sql_patchify_check, (0, 0, 3), bench=False),
    # channel_stats emits 3 rows per
    # image in Arrow (encode + stats = 2 nodes) and the map-side partial
    # aggregate shuffles only 3 rows per partition (1 exchange); mixup
    # joins the image table twice — both sides broadcast at test scale
    # (AQE would pick shuffle-hash at 100 TB), 4 Arrow nodes (2 encodes
    # + blend + checksum), zero shuffles; shard_roundtrip audits the
    # read side (the sink runs eagerly): repartition over shards +
    # untar + checksum = 1 exchange, 2 Arrow nodes
    "channel_stats": Query(q_channel_stats, sql_channel_stats, (1, 0, 2)),
    "mixup_check": Query(q_mixup_check, sql_mixup_check, (0, 2, 4)),
    "shard_roundtrip": Query(
        q_shard_roundtrip, sql_shard_roundtrip, (1, 0, 2)),
    # caption verify is a pure map-only projection over the synthesized
    # metadata table (no bytes, no join) — zero everything
    "caption_check": Query(
        q_caption_check, sql_caption_check, (0, 0, 0), bench=False),
    # sessionize = ONE shuffle on the user key shared by both window
    # passes + the rollup
    "sessionize": Query(q_sessionize, sql_sessionize, (2, 0, 0)),
    # funnel: 3 per-stage user-key aggs + 2 user-key joins + 3 global
    # 1-row counts = 8 exchanges; every one is on the compact user key
    # or a 1-row rollup (the per-user table shrinks each stage, and at
    # 10^12 events it is NOT broadcastable, so shuffle join is the
    # honest 100 TB plan)
    "funnel": Query(q_funnel, sql_funnel, (8, 0, 0)),
    # retention: signup min-ts agg + user-key join + two-phase
    # distinct-count on the (cohort, offset, user) key
    "retention": Query(q_retention, sql_retention, (5, 0, 0)),
    # concurrency: sessionize window + session-interval agg + range
    # cumsum window + range totals + tiny global window + day rollup
    # = 8 exchanges, every one on a compact key or a tiny table;
    # offsets broadcast back
    "concurrency": Query(q_concurrency, sql_concurrency, (8, 1, 0)),
    # kmv_distinct: ONE mapInArrow partial-sketch pass (the manual
    # map-side combine — <= k hashes per group leave each partition)
    # + ONE merge shuffle over the bounded partials
    "kmv_distinct": Query(q_kmv_distinct, sql_kmv_distinct, (1, 0, 1)),
    # kmv_setops: one tagged partial-sketch Arrow pass + bounded merge
    # shuffle + the 1-row x 1-row cross join of the two sketch rows
    "kmv_setops": Query(q_kmv_setops, sql_kmv_setops, (2, 0, 1)),
    # grouped_topk: local-top-k Arrow pass + ONE bounded window shuffle
    "grouped_topk": Query(q_grouped_topk, sql_grouped_topk, (1, 0, 1)),
    # sel_quantiles: iterative selection runs its bounded histogram
    # aggs eagerly (256-row collects, declared); the returned frame is
    # the driver-assembled 3-row result — zero everything by design
    "sel_quantiles": Query(q_sel_quantiles, sql_sel_quantiles, (0, 0, 0)),
    # bloom_prune: the filter build runs eagerly (bounded word-rollup
    # collect); the returned plan is scan+bit-math filter + the truth
    # verify join (dim broadcast) + 1-row agg — zero fact shuffles
    # beyond the final single-row aggregate
    "bloom_prune": Query(q_bloom_prune, sql_bloom_prune, (1, 1, 0)),
    # cm_counts: counter-grid agg (bounded depth*width) + probe
    # distinct + 1 broadcast probe join + per-probe min agg
    "cm_counts": Query(q_cm_counts, sql_cm_counts, (3, 1, 0)),
    # analyze: one column-parallel partial-sketch Arrow pass + ONE
    # bounded merge shuffle for ALL columns' stats together
    "analyze": Query(q_analyze, sql_analyze, (1, 0, 1)),
    # fuzzy_join: word distinct + the length-bucket equi-join (both
    # tiny sides broadcast at test scale) — zero Python, JVM
    # levenshtein verify
    "fuzzy_join": Query(q_fuzzy_join, sql_fuzzy_join, (2, 1, 0)),
    # hot_ngrams: MG candidate pass (1 Arrow node) + candidate
    # distinct + bounded recount agg + 1-row total = 3 exchanges; the
    # candidate set and total broadcast back (>=2 of the 4 bcasts)
    "hot_ngrams": Query(q_hot_ngrams, sql_hot_ngrams, (3, 2, 1)),
    # weighted_sample: TakeOrderedAndProject — zero exchanges, zero UDF
    "weighted_sample": Query(
        q_weighted_sample, sql_weighted_sample, (0, 0, 0)),
    # bpe_encode: pure-Catalyst replace-chain tokenizer apply —
    # map-only projection, zero everything
    "bpe_encode": Query(q_bpe_encode, sql_bpe_encode, (0, 0, 0)),
    # heat_grid: tile-count agg + 9x neighbor re-agg + center join
    "heat_grid": Query(q_heat_grid, sql_heat_grid, (3, 0, 0)),
    # decontam: benchmark gram set + overlap counts broadcast (>=2
    # BroadcastExchanges), corpus side = distinct + per-doc re-agg +
    # clean-doc preserving join = 3 exchanges, zero Python nodes
    "decontam": Query(q_decontam, sql_decontam, (3, 2, 0)),
    # pii_redact is map-only JVM regex inside one codegen span
    "pii_redact": Query(q_pii_redact, sql_pii_redact, (0, 0, 0)),
    # stratified sampling is a pure scan-pushed projection/filter
    "stratified": Query(q_stratified, sql_stratified, (0, 0, 0)),
    # cube_stats: map-side Expand + ONE grouping-sets shuffle
    "cube_stats": Query(q_cube_stats, sql_cube_stats, (1, 0, 0)),
    # domain_cap: ONE shuffle on the domain key (hash-ranked window)
    "domain_cap": Query(q_domain_cap, sql_domain_cap, (1, 0, 0)),
    # corpus_shuffle: same distributed-prefix-sum shape as pack_blocks
    # (range window + tiny counts agg + tiny global window; offsets
    # broadcast back) — never a single global sort
    "corpus_shuffle": Query(q_corpus_shuffle, sql_corpus_shuffle, (3, 1, 0)),
    # pack_blocks: range window + tiny totals agg + tiny global window
    # = 3 exchanges; the range-offset dim broadcasts back
    "pack_blocks": Query(q_pack_blocks, sql_pack_blocks, (3, 1, 0)),
    # length_median: ONE shuffle on the group key shared by both
    # window passes and the rollup
    "length_median": Query(q_length_median, sql_length_median, (1, 0, 0)),
    # the sampling queries are pure projection/filter (zero shuffles)
    # with the tiny count-aggregation broadcast for mixture
    "hash_split": Query(q_hash_split, sql_hash_split, (0, 0, 0)),
    "mixture": Query(q_mixture, sql_mixture, (3, 2, 0), bench=False),
    "zorder_layout": Query(q_zorder_layout, sql_zorder_layout, bench=False),
    "line_clip": Query(q_line_clip, sql_line_clip, (0, 0, 1)),
    "getdata_lookup": Query(q_getdata_lookup, sql_getdata_lookup, bench=False),
    "label_centroid": Query(q_label_centroid, sql_label_centroid, bench=False),
    # raster_roundtrip: cover + coarse refine + per-tile render + trace
    # = 4 Arrow nodes; exchanges = cover's repartition + the tile group
    "raster_roundtrip": Query(
        q_raster_roundtrip, sql_raster_roundtrip, (2, 0, 4), bench=False),
    "simplify": Query(q_simplify, sql_simplify, bench=False),
    # asof_join: 1 exchange for the right-side (user,ts) pre-agg + the
    # ONE union-window shuffle on user_id the operator owns; zero UDF
    "asof_join": Query(q_asof_join, sql_asof_join, (2, 0, 0)),
    # interval_join: AQE broadcasts both tiny sf0.001 sides of the
    # (cohort,bin) equi-join; the single exchange is the per-order agg
    "interval_join": Query(q_interval_join, sql_interval_join, (1, 2, 0)),
    # boilerplate: line-freq agg + per-doc re-agg + countDistinct
    # expansion; the hot-line dictionary and doc-totals dim broadcast
    "boilerplate": Query(q_boilerplate, sql_boilerplate, (3, 2, 0)),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: row.query for name, row in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: row.oracle() for name, row in REGISTRY.items()}
