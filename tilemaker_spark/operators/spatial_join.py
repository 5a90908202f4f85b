"""Point-in-polygon / intersects joins — the engine's core spatial op.

Reimplements the reference's ``Intersects``/``FindIntersecting``/
``CoveredBy`` semantics (/root/reference/src/osm_lua_processing.cpp:409-502)
with its filter-refine strategy (z15 candidate pre-filter then exact test,
src/shp_mem_tiles.cpp:58-127) as one Spark plan with two physical
strategies:

1. polygons explode to their covering cells at ``index_zoom``
   (:func:`cover_cells`: one ``mapInArrow`` over the small polygon side
   only, each Arrow batch covered by one ``kernels.geom.cover_batch``
   call — the covering raster needs imperative code);
2. points compute one cell id each — a pure Catalyst expression;
3. an equi-join on the cell key builds candidates: ``broadcast`` strategy
   broadcasts the exploded polygon-cell table (the R-tree analogue for
   small layers), ``cell`` strategy shuffles both sides on the compact
   key (AQE skew-join + optional explicit salting for hot urban cells);
4. the exact refine is :func:`points_in_mp_expr` — an even-odd ray cast
   built ENTIRELY from Catalyst higher-order functions.  Zero per-row
   Python anywhere on the big side; whole-stage codegen end to end.

No dedup pass is needed: a point has exactly one cell at ``index_zoom``
and a polygon covers each cell at most once, so a (point, polygon) pair
meets exactly once.

Polygon DataFrame contract (packed-ring schema, ``kernels.geom``):
``poly_id``, ``coords array<double>`` (flat lon/lat, rings closed),
``ring_sizes array<int>``, ``poly_ring_counts array<int>``; optional
``minlon/minlat/maxlon/maxlat`` enable a cheap bbox pre-test.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..kernels import geom as G
from ..kernels import proj as P
from ..sql import tile_exprs as TE


def points_in_mp_expr(px: Column, py: Column, coords: Column,
                      ring_sizes: Column) -> Column:
    """Even-odd ray cast as a pure Catalyst expression.

    Counts edge crossings over ALL rings (outers and holes together):
    for properly-nested rings this equals outer-minus-holes / union of
    disjoint polygons — the same semantics as
    ``kernels.geom.points_in_multipolygon`` (unit-tested equal).
    Rings must be closed (first point == last point).
    """
    off = F.aggregate(
        ring_sizes, F.array(F.lit(0)),
        lambda acc, x: F.array_append(acc, F.element_at(acc, -1) + x))

    def ring_crossings(r):
        start = F.element_at(off, r + 1)
        size = F.element_at(ring_sizes, r + 1)
        return F.aggregate(
            F.transform(
                F.sequence(start, start + size - 2),
                lambda p: F.when(
                    (
                        (F.element_at(coords, p * 2 + 2) > py)
                        != (F.element_at(coords, p * 2 + 4) > py)
                    )
                    & (
                        px
                        < (F.element_at(coords, p * 2 + 3)
                           - F.element_at(coords, p * 2 + 1))
                        * (py - F.element_at(coords, p * 2 + 2))
                        / (F.element_at(coords, p * 2 + 4)
                           - F.element_at(coords, p * 2 + 2))
                        + F.element_at(coords, p * 2 + 1)
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda a, x: a + x,
        )

    total = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.size(ring_sizes) - 1),
                    ring_crossings),
        F.lit(0), lambda a, x: a + x)
    return total % 2 == 1


def cover_cells(df: DataFrame, index_zoom: int, keep: list,
                kind: int | None = None) -> DataFrame:
    """``df``'s ``keep`` columns once per cell its packed geometry covers
    at ``index_zoom``, with the cell's tile id as ``_cell``.  The geometry
    is of ``kind``, or of each row's ``kind`` column when None.  One
    ``mapInArrow`` covers each whole Arrow batch with one
    ``kernels.geom.cover_batch`` call: probes and polygons alike."""
    geo = ["coords", "ring_sizes"] + (["kind"] if kind is None else [])
    src = df.select(*dict.fromkeys([*keep, *geo]))
    schema = StructType([src.schema[c] for c in keep]
                        + [StructField("_cell", LongType())])

    def gen(batches):
        for batch in batches:
            kinds = (np.asarray(batch.column("kind")) if kind is None
                     else np.full(batch.num_rows, kind))
            row, x, y = G.cover_batch(kinds, *G.packed_flat(batch),
                                      index_zoom)
            yield pa.RecordBatch.from_arrays(
                [*batch.select(keep).take(row).columns,
                 pa.array(P.tile_id(index_zoom, x, y))],
                names=[*keep, "_cell"])

    return src.mapInArrow(gen, schema)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    strategy: str = "broadcast",
    lon_col: str = "lon",
    lat_col: str = "lat",
    index_zoom: int = 7,
    n_salts: int = 1,
    how: str = "inner",
    poly_cols: tuple = ("poly_id",),
    point_id_cols: tuple | None = None,
) -> DataFrame:
    """Filter-refine PIP join; returns point columns + matched poly_cols.

    strategy='broadcast': broadcast-hash-join the exploded polygon-cell
    table (small layers).  strategy='cell': shuffle both sides on the
    cell key (large layers); ``n_salts`` > 1 replicates polygon-cell rows
    across salts to split hot cells beyond what AQE does.
    how='left' keeps unmatched points with null poly columns (the boolean
    Intersects form is then ``poly_id IS NOT NULL``).  Pass
    ``point_id_cols`` (a key uniquely identifying point rows) so the
    left path's anti-join runs on the compact key — without it the
    anti-join falls back to null-safe equality over EVERY point column,
    which is O(cols) and fragile for NaN-bearing floats.
    """
    iz = index_zoom
    has_bbox = all(c in polygons.columns
                   for c in ("minlon", "minlat", "maxlon", "maxlat"))
    keep = list(dict.fromkeys(
        list(poly_cols) + list(G.PACKED)
        + (["minlon", "minlat", "maxlon", "maxlat"] if has_bbox else [])))
    poly_exploded = cover_cells(polygons, iz, keep, kind=G.POLYGON)
    pts = points.withColumn(
        "_cell", TE.cell_id(F.col(lon_col), F.col(lat_col), iz))

    join_keys = ["_cell"]
    if strategy == "cell" and n_salts > 1:
        poly_exploded = poly_exploded.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        pts = pts.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)),
                   F.lit(n_salts)).cast("int"))
        join_keys = ["_cell", "_salt"]

    right = (F.broadcast(poly_exploded) if strategy == "broadcast"
             else poly_exploded)
    cand = pts.join(right, on=join_keys, how="inner")

    hit = points_in_mp_expr(
        F.col(lon_col), F.col(lat_col), F.col("coords"),
        F.col("ring_sizes"))
    if has_bbox:
        hit = (
            (F.col(lon_col) >= F.col("minlon"))
            & (F.col(lon_col) <= F.col("maxlon"))
            & (F.col(lat_col) >= F.col("minlat"))
            & (F.col(lat_col) <= F.col("maxlat"))
        ) & hit
    matched = cand.filter(hit).select(
        *[F.col(c) for c in points.columns], *list(poly_cols))
    if how == "inner":
        return matched
    # left: re-attach unmatched points with null poly columns
    key_cols = (list(point_id_cols) if point_id_cols
                else list(points.columns))
    # null-safe equality so null-valued key columns don't break the anti
    # join; with point_id_cols this is a compact single-key comparison
    hit_pts = matched.select(
        *[F.col(c).alias(f"_m_{c}") for c in key_cols]
    ).dropDuplicates()
    cond = None
    for c in key_cols:
        e = points[c].eqNullSafe(F.col(f"_m_{c}"))
        cond = e if cond is None else (cond & e)
    un = points.join(hit_pts, on=cond, how="left_anti")
    for c in poly_cols:
        un = un.withColumn(
            c, F.lit(None).cast(dict(
                (f.name, f.dataType) for f in polygons.schema.fields
            )[c]))
    return matched.unionByName(un)


def pip_join_broadcast(points: DataFrame, polygons: DataFrame, **kw):
    """Small-layer path (reference R-tree analogue): broadcast strategy."""
    return pip_join(points, polygons, strategy="broadcast", **kw)


def zonal_stats(points: DataFrame, polygons: DataFrame,
                metrics: dict[str, Column] | None = None,
                zone_col: str = "poly_id", **kw) -> DataFrame:
    """Zonal statistics — the classic geospatial OLAP rollup: assign
    every point to its containing polygon (filter-refine PIP join,
    broadcast or cell-keyed per ``strategy`` in ``**kw``), then
    aggregate per zone.  Default metrics are exact integers
    (n_points); pass ``metrics`` as {out_name: agg Column} for more.

    Scale shape: the PIP join dominates; the rollup after it shuffles
    only on the zone id — a key space of #polygons, tiny next to the
    point count, and the partial aggregation is map-side combined, so
    the exchange carries #zones rows per task, not points.  Points
    matching no zone are simply absent (inner join), matching the
    semantics of every raster zonal-stats tool."""
    j = pip_join(points, polygons, poly_cols=(zone_col,), **kw)
    aggs = [F.count(F.lit(1)).alias("n_points")]
    for name, col in (metrics or {}).items():
        aggs.append(col.alias(name))
    return j.groupBy(F.col(zone_col).alias("zone")).agg(*aggs)


def pip_join_cell(points: DataFrame, polygons: DataFrame, **kw):
    """Large-layer path: cell-keyed shuffle strategy."""
    return pip_join(points, polygons, strategy="cell", **kw)


# ---------------------------------------------------------------------------
# non-point probes: Intersects / CoveredBy / AreaIntersecting
# (reference src/osm_lua_processing.cpp:409-502)
# ---------------------------------------------------------------------------

def _refine_batch(batch, predicate: str, probe_cols: list,
                  poly_cols: list) -> pa.RecordBatch:
    """Refine one Arrow batch of candidate rows: group by polygon (by the
    poly id VALUES — no hash proxies), unpack each polygon once, and test
    all of its probes in one vectorized batch-kernel call."""
    from ..kernels import overlay as OV
    n = batch.num_rows
    keep = np.zeros(n, bool)
    areas = np.zeros(n, np.float64)
    kinds = np.asarray(batch.column("kind"))
    coords, rsz, prc = G.packed_views(batch)
    pcoords, prsz, pprc = G.packed_views(
        batch, ("_pcoords", "_pring_sizes", "_ppoly_ring_counts"))
    is_line = np.isin(kinds, (G.LINESTRING, G.MULTILINESTRING))
    codes = np.column_stack([
        np.asarray(pc.dictionary_encode(batch.column(c)).indices)
        for c in poly_cols])
    key = np.unique(codes, axis=0, return_inverse=True)[1].reshape(-1)
    order = np.argsort(key, kind="stable")
    for idx in np.split(order, np.flatnonzero(np.diff(key[order])) + 1):
        i0 = idx[0]
        mpb = G.unpack(G.POLYGON, pcoords[i0], prsz[i0], pprc[i0])
        lpos = idx[is_line[idx]]
        ppos = idx[~is_line[idx]]
        if len(lpos):
            # flatten each probe's component lines; reduce back per probe
            probe_lines, owner = [], []
            for j, i in enumerate(lpos):
                ls = G.unpack(kinds[i], coords[i], rsz[i], prc[i])
                probe_lines.extend(ls)
                owner.extend([j] * len(ls))
            owner = np.asarray(owner, np.int64)
            if predicate == "intersects":
                per_line = G.lines_intersect_multipolygon_batch(
                    probe_lines, mpb)
                agg = np.zeros(len(lpos), bool)
                np.logical_or.at(agg, owner, per_line)
            elif predicate == "covered_by":
                per_line = G.lines_covered_by_multipolygon_batch(
                    probe_lines, mpb)
                agg = np.ones(len(lpos), bool)
                np.logical_and.at(agg, owner, per_line)
            else:  # area: lines contribute none
                agg = np.zeros(len(lpos), bool)
            keep[lpos] = agg
        if len(ppos):
            mps = [G.unpack(G.POLYGON, coords[i], rsz[i], prc[i])
                   for i in ppos]
            if predicate == "intersects":
                keep[ppos] = G.mps_intersect_multipolygon_batch(mps, mpb)
            elif predicate == "covered_by":
                keep[ppos] = G.mps_covered_by_batch(mps, mpb)
            else:  # area
                a = np.array([
                    OV.area_planar(OV.intersection(m, mpb)) for m in mps])
                areas[ppos] = a
                keep[ppos] = a > 0.0
    out = batch.select(probe_cols + poly_cols).filter(pa.array(keep))
    if predicate == "area":
        out = out.append_column("area_deg2", pa.array(areas[keep]))
    return out


def geom_join(
    probes: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    strategy: str = "broadcast",
    index_zoom: int = 7,
    probe_cols: tuple = ("feature_id",),
    poly_cols: tuple = ("poly_id",),
) -> DataFrame:
    """Geometry-vs-polygon join for NON-POINT probes — the reference's
    Intersects / CoveredBy / AreaIntersecting with line/polygon arguments
    (src/osm_lua_processing.cpp:409-502).

    Plan (geometry never rides a shuffle it doesn't need): both sides
    explode ID-ONLY projections to covering cells at ``index_zoom``, the
    candidate (probe, poly) pairs dedupe on bare ids, geometry is
    re-attached once per candidate (probe side by id join, polygon side
    broadcast when small), and the exact refine groups each Arrow batch
    by polygon and evaluates all of a polygon's probes in one vectorized
    kernel call (kernels.geom *_batch).

    probes: feature table with (kind, coords, ring_sizes,
    poly_ring_counts) + ``probe_cols`` identifying columns.
    Output: probe_cols + poly_cols (+ ``area_deg2`` for predicate='area').
    """
    # one task per core: a single-file probe table would otherwise run the
    # cover and refine on one core.  Always repartition: asking the
    # input for its partition count runs every shuffle stage above it.
    probes = probes.repartition(
        probes.sparkSession.sparkContext.defaultParallelism)
    geom_cols = ["kind", *G.PACKED]
    pr_ids = cover_cells(probes, index_zoom, list(probe_cols))
    po_ids = cover_cells(polygons, index_zoom, list(poly_cols),
                         kind=G.POLYGON)
    right = F.broadcast(po_ids) if strategy == "broadcast" else po_ids
    cand_ids = (
        pr_ids.join(right, on="_cell", how="inner")
        .select(*probe_cols, *poly_cols)
        .dropDuplicates(list(probe_cols) + list(poly_cols)))

    cand = cand_ids.join(
        probes.select(*probe_cols, *geom_cols),
        on=list(probe_cols), how="inner")
    pol_geom = polygons.select(
        *poly_cols, *[F.col(c).alias(f"_p{c}") for c in
                      ("coords", "ring_sizes", "poly_ring_counts")])
    cand = cand.join(
        F.broadcast(pol_geom) if strategy == "broadcast" else pol_geom,
        on=list(poly_cols), how="inner")
    # local sort so Arrow batches hold runs of the same polygon — the
    # refine unpacks each polygon once per run, no shuffle added
    cand = cand.sortWithinPartitions(*poly_cols)

    pc_l, pl_l = list(probe_cols), list(poly_cols)
    types = {f.name: f.dataType.simpleString()
             for f in list(probes.schema.fields) + list(polygons.schema.fields)}
    out_schema = ", ".join(f"{c} {types[c]}" for c in pc_l + pl_l)
    if predicate == "area":
        out_schema += ", area_deg2 double"

    def refine(batches):
        for batch in batches:
            if batch.num_rows:
                yield _refine_batch(batch, predicate, pc_l, pl_l)

    return cand.mapInArrow(refine, schema=out_schema)
