"""Tile assembly: features table -> (z, x, y, tile bytes).

The reference's tile phase (/root/reference/src/tilemaker.cpp:388-540,
src/tile_worker.cpp) re-expressed as two DataFrame stages:

1. **cover** — every feature explodes to its base-zoom covering tiles
   (point: 1 tile; line: supercover; polygon: boundary + fill — the
   object->tile fan-out of src/tile_data.cpp:495-608).  One
   ``mapInArrow`` task per core (the input is repartitioned to
   ``defaultParallelism``) producing (bx, by, feature) rows keyed by the
   z6 ancestor cell (CLUSTER_ZOOM, include/tile_data_base.h:10-12),
   pruned to the clip box, with each feature's first row in each z0..5
   tile marked.

2. **build** — two grouped ``applyInArrow`` passes, split at
   z_s = basezoom - SPLIT_DEPTH.  Pass 1 groups by z6 cell and builds
   zooms 6..z_s-1 top-down (the clip-pyramid locality the reference gets
   from its tile iteration order, src/tile_sorting.cpp:98-152), then
   hands each row on with its z_s-1 clip.  Pass 2 groups by z_s tile and
   builds z_s..basezoom, so a city in one z6 cell builds on every core
   (the reference batches z12+ tiles over a thread pool,
   src/tilemaker.cpp:463-481).  Pass 2 also builds each z0..5 tile from
   its own small group keyed by (z, x, y), the marked rows pass 1 hands
   over (the reference's low-zoom object list, taken from the same z6
   object lists, src/tile_data.cpp:87-100).  Building the plan runs no
   Spark job.  Workers pull each Arrow column out once
   (geometry as ``geom.packed_views``) and select rows with numpy indices.

Per-tile semantics mirror tile_worker.cpp: layer zoom-range + per-feature
minzoom filters, z-order sort (+ feature_limit top-k), combine of
compatible points/lines, zoom-scaled simplification, box clip with 0.5%
margin, area filter, MVT encode, gzip.

Feature schema (the engine's OutputObject analogue, ``FEATURE_ARROW``):
  feature_id long, layer string, kind tinyint (0 pt / 1 line / 3 poly),
  minzoom int, zorder long, attrs map<string,string>,
  coords array<double>, ring_sizes array<int>, poly_ring_counts array<int>

The cover adds ``uid``, one id per feature row: a way and a relation
may share an OSM id (and one way may be both a line and an area in one
layer), so the build keys its per-tile dedupe and clip pyramid on
``uid``, not on ``(feature_id, layer)``.
"""

from __future__ import annotations

import hashlib
import heapq

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import Config, LayerDef
from ..kernels import geom as G
from ..kernels import mvt as M
from ..kernels import overlay as OV
from ..kernels import proj as P
from .rows import rows_table

FEATURE_ARROW = pa.schema([
    ("feature_id", pa.int64()), ("layer", pa.string()), ("kind", pa.int8()),
    ("minzoom", pa.int32()), ("zorder", pa.int64()),
    ("attrs", pa.map_(pa.string(), pa.string())),
    ("coords", pa.list_(pa.float64())), ("ring_sizes", pa.list_(pa.int32())),
    ("poly_ring_counts", pa.list_(pa.int32()))])
COVERED_ARROW = pa.schema(list(FEATURE_ARROW) + [
    ("uid", pa.int64()), ("bx", pa.int64()), ("by", pa.int64()),
    ("coarse", pa.bool_()), ("low", pa.int8())])
TILE_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int32()),
                        ("y", pa.int32()), ("tile", pa.binary())])
FEATURE_SCHEMA = from_arrow_schema(FEATURE_ARROW)
CLIP_COLUMNS = tuple("clip_" + c for c in G.PACKED)
# the rows between build_tiles' two grouped passes, keyed (_z, _tx, _ty)
# and placed on pass 2's partition _part: a tile pass 1 finished, or a
# cover row (at z_s with its parent tile's clip)
HANDOFF_ARROW = pa.schema(
    [("_part", pa.int32()), ("_z", pa.int32()), ("_tx", pa.int64()),
     ("_ty", pa.int64()), ("tile", pa.binary()), *COVERED_ARROW]
    + [(c, FEATURE_ARROW.field(p).type)
       for c, p in zip(CLIP_COLUMNS, G.PACKED)])

CLUSTER_ZOOM = 6  # reference include/tile_data_base.h:10-12

# the high-zoom build splits at z_s = base zoom - SPLIT_DEPTH (see
# build_tiles): z6 cells build down to z_s - 1, z_s tiles build the rest
SPLIT_DEPTH = 2

# features whose bbox spans >= this many base-zoom tiles take the coarse
# path: explode to z6 cells, refine to tiles inside the subtree worker
# (reference's small/large dual object index, src/tile_data.cpp:524-540)
LARGE_THRESHOLD = 16


# ---------------------------------------------------------------------------
# stage 1: cover
# ---------------------------------------------------------------------------

def _bbox_tile_spans(coords, coords_off, z: int) -> np.ndarray:
    """Per row of a batch (flat ``coords`` and their offsets), the number
    of z-tiles in the bbox of its vertices, 0 for a row with none: a
    cheap upper bound on the covering-tile count (the reference
    thresholds on the true covering count, but bbox span classifies
    identically for the features that matter — anything bbox-small is
    covering-small)."""
    co = np.asarray(coords_off, np.int64)
    xy = coords[co[0]:co[-1]].reshape(-1, 2)
    m = (1 << z) - 1
    tx = np.clip(np.floor(P.lon2tilexf(xy[:, 0], z)), 0, m)
    ty = np.clip(np.floor(P.lat2tileyf(xy[:, 1], z)), 0, m)
    has = np.diff(co) > 0
    start = (co[:-1][has] - co[0]) // 2
    spans = np.zeros(len(has), np.int64)
    if len(start):
        spans[has] = ((np.maximum.reduceat(tx, start)
                       - np.minimum.reduceat(tx, start) + 1)
                      * (np.maximum.reduceat(ty, start)
                         - np.minimum.reduceat(ty, start) + 1))
    return spans


def _cover_rows(batch, rows: np.ndarray, z: int) -> tuple:
    """Cover rows ``rows`` of ``batch`` at zoom z in one kernel call ->
    (batch row, x, y), sorted by (row, x, y)."""
    if len(rows) < batch.num_rows:
        batch = batch.select(["kind", *G.PACKED[:2]]).take(rows)
    r, x, y = G.cover_batch(np.asarray(batch.column("kind")),
                            *G.packed_flat(batch), z)
    return rows[r], x, y


def _with_tiles(batch, rows, x, y, coarse, low) -> pa.Table:
    """Row ``rows[i]`` of ``batch`` (its feature columns and ``uid``)
    with tile (``x[i]``, ``y[i]``) appended as (bx, by), ``coarse[i]``
    and ``low[i]``: the one row-repeat step of cover and of the coarse
    refine."""
    cols = batch.select(COVERED_ARROW.names[:-4]).take(rows)
    return pa.Table.from_arrays(
        [*cols.columns, pa.array(x), pa.array(y), pa.array(coarse),
         pa.array(low, pa.int8())], schema=COVERED_ARROW)


def _in_bbox(bbox: tuple | None, zoom: int, x, y, coarse) -> np.ndarray:
    """Which cover rows can reach a tile intersecting ``bbox`` (minlon,
    minlat, maxlon, maxlat) at ``zoom`` (reference --bbox,
    src/tilemaker.cpp:368-379): an exact row when its tile lies in the
    box's tile range, a coarse row when its z6 cell's block of base
    tiles overlaps that range.  Every row when ``bbox`` is None."""
    if bbox is None:
        return np.ones(len(x), bool)
    minlon, minlat, maxlon, maxlat = bbox
    m = (1 << zoom) - 1
    x0 = max(0, min(m, int(P.lon2tilexf(minlon, zoom))))
    x1 = max(0, min(m, int(P.lon2tilexf(maxlon, zoom))))
    y0 = max(0, min(m, int(P.lat2tileyf(maxlat, zoom))))
    y1 = max(0, min(m, int(P.lat2tileyf(minlat, zoom))))
    w = np.where(coarse, (1 << max(0, zoom - CLUSTER_ZOOM)) - 1, 0)
    return (x <= x1) & (x + w >= x0) & (y <= y1) & (y + w >= y0)


def _low_marks(row, x, y, base_zoom: int) -> np.ndarray:
    """Per cover row (its feature's batch ``row``, base tile ``x``,
    ``y``), a bitmask with bit z set, for each z below
    CLUSTER_ZOOM, when the row is its feature's first in its z tile: the
    one row per feature and z0-5 tile that pass 2's z0-5 groups read."""
    low = np.zeros(len(row), np.int8)
    for z in range(min(CLUSTER_ZOOM, base_zoom + 1)):
        s = base_zoom - z
        key = (row << 2 * z) | ((x >> s) << z) | (y >> s)
        low[np.unique(key, return_index=True)[1]] |= 1 << z
    return low


def cover_features(features: DataFrame, base_zoom: int = 14,
                   large_threshold: int | None = LARGE_THRESHOLD,
                   bbox: tuple | None = None) -> DataFrame:
    """Explode features to covering tiles: adds bx, by, coarse and low.

    Dual path (reference src/tile_data.cpp:524-540): small features
    explode to their exact base-zoom covering tiles (coarse=false); large
    features — bbox span >= ``large_threshold`` tiles — explode only to
    their CLUSTER_ZOOM covering cells (coarse=true, bx/by = the cell's
    first base tile), so a planet-sized polygon produces O(4^CLUSTER_ZOOM)
    rows instead of O(4^base_zoom).  The exact per-tile membership for
    coarse rows is recovered inside the subtree worker by
    :func:`_expand_coarse_rows` (clip to cell bbox, cover the clip) —
    the clip-pyramid refine the reference gets from its R-tree walk.
    Each Arrow batch takes one cover kernel call per path, and its rows
    come out in input order, each row's tiles sorted.  Rows that cannot
    reach a tile in ``bbox`` are dropped, then ``low`` marks each
    feature's first kept row in each z0-5 tile (:func:`_low_marks`).
    """
    dz = base_zoom - CLUSTER_ZOOM
    dual = large_threshold is not None and dz > 0
    features = features.select(  # the worker's FEATURE_ARROW columns
        *[F.col(f.name).cast(f.dataType) for f in FEATURE_SCHEMA])
    # one task per core: a single-file feature table would otherwise run
    # the whole fan-out on one core, and a union of many small inputs
    # would pay a Python worker round trip per input partition.  Always
    # repartition: asking the input for its partition count runs every
    # shuffle stage above it.
    features = features.repartition(
        features.sparkSession.sparkContext.defaultParallelism)

    def gen(batches):
        # uid: the partition id over a row counter, the bit layout of
        # F.monotonically_increasing_id
        uid = TaskContext.get().partitionId() << 33
        for batch in batches:
            n = batch.num_rows
            batch = pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(uid + np.arange(n))],
                names=[*batch.schema.names, "uid"])
            uid += n
            coarse = np.zeros(n, bool)
            if dual:
                coarse = (np.asarray(batch.column("kind")) != G.POINT) & (
                    _bbox_tile_spans(*G.packed_flat(batch)[:2], base_zoom)
                    >= large_threshold)
            row, x, y = _cover_rows(batch, np.flatnonzero(~coarse), base_zoom)
            crow, cx, cy = _cover_rows(batch, np.flatnonzero(coarse),
                                       CLUSTER_ZOOM)
            row = np.concatenate([row, crow])
            order = np.argsort(row, kind="stable")  # back to input order
            x = np.concatenate([x, cx << max(dz, 0)])  # cell -> first tile
            y = np.concatenate([y, cy << max(dz, 0)])
            row, x, y = row[order], x[order], y[order]
            keep = _in_bbox(bbox, base_zoom, x, y, coarse[row])
            row, x, y = row[keep], x[keep], y[keep]
            yield from _with_tiles(batch, row, x, y, coarse[row],
                                   _low_marks(row, x, y, base_zoom)
                                   ).to_batches()

    return features.mapInArrow(gen, from_arrow_schema(COVERED_ARROW))


def _expand_coarse_rows(batch, base_zoom: int,
                        bbox: tuple | None = None) -> pa.Table:
    """Refine coarse (cell-granularity) rows to exact per-base-tile rows:
    clip each geometry to its z6 cell bbox (one base-tile margin so edge
    supercover matches the global cover), cover the clipped geometries at
    base_zoom in one kernel call, keep cells inside each z6 cell's tile
    range and ``bbox`` (a z6 cell may overhang the box).  The exact rows
    come first, then the refined ones, all with ``low`` cleared (pass 1
    reads it first).  Runs inside the subtree worker — the fan-out never
    crosses a shuffle."""
    dz = base_zoom - CLUSTER_ZOOM
    coarse = np.asarray(batch.column("coarse"))
    exact, big = np.flatnonzero(~coarse), np.flatnonzero(coarse)
    bx, by = np.asarray(batch.column("bx")), np.asarray(batch.column("by"))
    kinds = np.asarray(batch.column("kind"))[big]
    parts = []  # each refined row's clipped lines or rings
    for b, kind, coords, rs, prc in zip(
            big, kinds, *G.packed_views(batch.take(big))):
        box = _tile_bbox(CLUSTER_ZOOM, int(bx[b]) >> dz, int(by[b]) >> dz,
                         margin=1.0 / (1 << dz))
        geom = G.clip_to_box(kind, G.unpack(kind, coords, rs, prc), *box)
        parts.append(geom if kind in (G.LINESTRING, G.MULTILINESTRING)
                     else [r for poly in geom for r in poly])
    row, x, y = G.cover_batch(kinds, *G.pack_batch(parts), base_zoom)
    row = big[row]
    keep = (((x >> dz) == (bx[row] >> dz)) & ((y >> dz) == (by[row] >> dz))
            & _in_bbox(bbox, base_zoom, x, y, False))
    n = len(exact) + int(keep.sum())
    return _with_tiles(batch, np.concatenate([exact, row[keep]]),
                       np.concatenate([bx[exact], x[keep]]),
                       np.concatenate([by[exact], y[keep]]),
                       np.zeros(n, bool), np.zeros(n, np.int8))


def expand_coarse(covered: DataFrame, base_zoom: int = 14,
                  bbox: tuple | None = None) -> DataFrame:
    """DataFrame twin of :func:`_expand_coarse_rows` for consumers that
    need exact per-tile rows outside the subtree worker (e.g.
    :func:`tile_assignments` — whose output is inherently per-tile)."""
    def gen(batches):
        for batch in batches:
            yield from _expand_coarse_rows(batch, base_zoom,
                                           bbox).to_batches()

    return covered.mapInArrow(gen, from_arrow_schema(COVERED_ARROW))


# ---------------------------------------------------------------------------
# stage 2: per-subtree tile builder
# ---------------------------------------------------------------------------

def _tile_bbox(z: int, x: int, y: int, margin: float = 0.005) -> tuple:
    """Tile (minlon, minlat, maxlon, maxlat) box with 0.5% margin
    (reference TileBbox, src/coordinates_geom.cpp:9-31): the margin is
    taken in lon/latp degrees, then the latp edges turn into latitudes."""
    span = 360.0 / (1 << z)
    minlon = x * span - 180.0
    maxlatp = 180.0 - y * span
    m = span * margin
    return (minlon - m, float(P.latp2lat(maxlatp - span - m)),
            minlon + span + m, float(P.latp2lat(maxlatp + m)))


def _to_tile_frac(pts: np.ndarray, z: int, x: int, y: int) -> np.ndarray:
    """lon/lat -> tile-local fractional coords (x right, y down)."""
    fx = P.lon2tilexf(pts[:, 0], z) - x
    fy = P.latp2tileyf(P.lat2latp(pts[:, 1]), z) - y
    return np.column_stack([fx, fy])


def _tile_mid_latp(z: int, y: int) -> float:
    """Mid-latp of a tile row (reference tile_worker.cpp:477-479)."""
    return (float(P.tiley2latp(y, z)) + float(P.tiley2latp(y + 1, z))) / 2.0


def _simplify_tolerance(ld: LayerDef, z: int, latp: float = 0.0) -> float:
    """Zoom-scaled simplify tolerance in degrees (reference
    src/tile_worker.cpp:480-487): simplify_length (meters, converted at
    the tile's latitude) takes precedence over simplify_level (degrees);
    either is scaled by ratio^(simplify_below-1-z)."""
    if ld.simplify_below <= 0 or z >= ld.simplify_below:
        return 0.0
    if ld.simplify_length > 0:
        level = float(P.meter2degp(ld.simplify_length, latp))
    else:
        level = ld.simplify_level
    return level * (ld.simplify_ratio ** (ld.simplify_below - 1 - z))


def _area_threshold(ld: LayerDef, z: int, latp: float = 0.0) -> float:
    """Area filter threshold (reference src/tile_worker.cpp:488-490:
    meter2degp(filter_area, latp) * 2^(filter_below-1-z))."""
    if ld.filter_below <= 0 or z >= ld.filter_below:
        return 0.0
    return float(P.meter2degp(ld.filter_area, latp)) * (
        2.0 ** (ld.filter_below - 1 - z))


def _simplify_lines(parts: list, tol: float, algorithm: str) -> list:
    """Zoom-scaled line simplify: Visvalingam when asked for, else
    Douglas-Peucker."""
    if tol <= 0:
        return parts
    if algorithm == "visvalingam":
        return [G.visvalingam(p, tol * tol) for p in parts]
    return [G.douglas_peucker(p, tol) for p in parts]


def _repair(clipped: list, source: list, box: tuple, guard: float) -> list:
    """A clipped multipolygon made simple, or [] to drop the feature
    (escalation chain of reference src/tile_data.cpp:380-426,
    src/geom.cpp:140-224): remove spikes first; if rings still
    self-intersect, re-intersect ``source`` with the tile ``box`` by the
    robust even-odd overlay, kept only if at least ``guard`` of the
    naive clip's area survives."""
    if G.multipolygon_is_simple(clipped):
        return clipped
    despiked = []
    for poly in clipped:
        rings = [r for r in map(G.remove_spikes, poly) if len(r) >= 4]
        if rings:
            despiked.append(rings)
    if despiked and G.multipolygon_is_simple(despiked):
        return despiked
    minx, miny, maxx, maxy = box
    rect = [[np.array([[minx, miny], [maxx, miny], [maxx, maxy],
                       [minx, maxy], [minx, miny]], np.float64)]]
    naive = sum(abs(G.signed_ring_area_planar(p[0]))
                for p in (despiked or clipped))
    robust = OV.intersection(source, rect)
    if robust and OV.area_planar(robust) >= guard * naive:
        return robust
    return []


def _simplify_polygons(mp: list, tol: float, algorithm: str) -> list:
    """Zoom-scaled polygon simplify: rectilinear building simplification
    (reference tile_worker.cpp:231-235, simplify_buildings.cpp), or a
    per-ring simplify that drops degenerate rings.  The holes of a
    dropped outer are not simplified."""
    if tol <= 0:
        return mp
    if algorithm == "buildings":
        if sum(len(p[0]) for p in mp) > 5 or len(mp) > 1:
            return G.simplify_buildings(mp, tol)
        return mp
    out = []
    for poly in mp:
        outer = G.simplify_ring(poly[0], tol, algorithm)
        if len(outer) >= 4:
            holes = (G.simplify_ring(h, tol, algorithm) for h in poly[1:])
            out.append([outer] + [h for h in holes if len(h) >= 4])
    return out


def _points_in_box(pts: np.ndarray, minx, miny, maxx, maxy) -> np.ndarray:
    """The rows of ``pts`` inside the box, edges included."""
    return pts[(pts[:, 0] >= minx) & (pts[:, 0] <= maxx)
               & (pts[:, 1] >= miny) & (pts[:, 1] <= maxy)]


def _coerce_attr(v, typ: str | None):
    """String attr -> typed MVT value (reference typed Attribute* calls,
    include/attribute_store.h:45-175).  Unparseable values stay strings."""
    if typ is None or v is None:
        return v
    try:
        if typ == "Number":
            return float(v)
        if typ == "Integer":
            return int(float(v))
        if typ == "Boolean":
            return str(v).lower() in ("true", "1", "yes")
    except (TypeError, ValueError):
        return v
    return v


def _geom_digest(*values) -> int:
    """64-bit digest of one row's kind and packed geometry arrays."""
    h = hashlib.blake2b(digest_size=8)
    for v in values:
        v = np.asarray(v)
        h.update(np.int64(v.size).tobytes() + v.tobytes())
    return int.from_bytes(h.digest(), "little")


def _tile_columns(table: pa.Table, cfg: Config) -> dict:
    """Take a table's columns out once, as numpy arrays and packed views,
    for :func:`_build_one_tile`; adds each row's layer code, layer
    definition's zoom range and output (``write_to``) layer."""
    cols = {c: np.asarray(table.column(c)) for c in (
        "feature_id", "uid", "kind", "minzoom", "zorder", "bx", "by")}
    cols.update(zip(G.PACKED, G.packed_views(table)))
    cols["attrs"] = table.column("attrs").to_pylist()
    # the sort's tie-breakers after feature_id: a canonical form of the
    # attrs, then a digest of the packed geometry; taken once per feature
    # (uid) but never ordered by uid or row position
    _, first, inv = np.unique(cols["uid"], return_index=True,
                              return_inverse=True)
    canon = [repr(sorted(cols["attrs"][i] or ())) for i in first]
    cols["attrs_rank"] = np.unique(canon, return_inverse=True)[1][inv]
    cols["geom_digest"] = np.array(
        [_geom_digest(*(cols[c][i] for c in ("kind", *G.PACKED)))
         for i in first], np.uint64)[inv]
    layer = table.column("layer").combine_chunks().dictionary_encode(
        null_encoding="encode")
    codes, names = np.asarray(layer.indices), layer.dictionary.to_pylist()
    lds = [cfg.layers.get(n, LayerDef(n)) for n in names]
    cols["layer_code"] = codes
    cols["layer_defs"] = lds
    cols["target"] = np.array(
        [ld.write_to or n for n, ld in zip(names, lds)], object)[codes]
    cols["layer_minzoom"] = np.array([ld.minzoom for ld in lds],
                                     np.int64)[codes]
    cols["layer_maxzoom"] = np.array([ld.maxzoom for ld in lds],
                                     np.int64)[codes]
    return cols


def _tile_groups(tkey: np.ndarray, uid: np.ndarray):
    """Yield (tile key, row indices) per distinct key, keys ascending.  A
    feature (``uid``) keeps only its first row in each tile, and a
    tile's rows stay in input order."""
    order = np.lexsort((uid, tkey))
    t, u = tkey[order], uid[order]
    first = np.ones(len(order), bool)
    first[1:] = (t[1:] != t[:-1]) | (u[1:] != u[:-1])
    keep = np.sort(order[first])
    keep = keep[np.argsort(tkey[keep], kind="stable")]
    for rows in np.split(keep, np.flatnonzero(np.diff(tkey[keep])) + 1):
        if len(rows):
            yield int(tkey[rows[0]]), rows


_RANK = (0, 1, 1, 2)  # kind -> rank: point, line, polygon


def _build_one_tile(cols: dict, rows: np.ndarray, z: int, x: int, y: int,
                    cfg: Config, clip_in: dict | None = None,
                    clip_out: dict | None = None) -> bytes | None:
    """The features at ``rows`` of ``cols`` (see :func:`_tile_columns`),
    all already known to touch (z,x,y) -> MVT tile bytes.

    Every feature takes one path (reference src/tile_worker.cpp:303-418):
    source geometry, clip, shape (simplify; for polygons also repair and
    area filter), then emit, or wait in its rank's combine table, which
    is flushed after the layer's other features: points, then lines,
    then polygons.

    Clip-pyramid reuse (reference include/clip_cache.h:21-37): when
    ``clip_in`` is given, clip_in[uid] may hold the feature's geometry
    already clipped to the PARENT tile's box (a superset of this tile's
    box+margin) — clipping proceeds from that much smaller input instead
    of the original geometry.  When ``clip_out`` is given, this tile's
    pre-simplify clip is stored under the same key for the four child
    tiles to consume."""
    box = _tile_bbox(z, x, y)
    # simplify tolerance and area threshold once per layer definition
    # (reference src/tile_worker.cpp:472-490)
    latp = _tile_mid_latp(z, y)
    tols = [_simplify_tolerance(ld, z, latp) for ld in cols["layer_defs"]]
    athrs = [_area_threshold(ld, z, latp) for ld in cols["layer_defs"]]

    def frac(pts):
        return _to_tile_frac(pts, z, x, y)

    encoders = (  # rank -> (MVT geometry type, encoder)
        (M.GEOM_POINT,
         lambda pts: M.encode_point_geom(frac(pts), cfg.extent)),
        (M.GEOM_LINESTRING, lambda parts: M.encode_line_geom(
            [frac(p) for p in parts], cfg.extent)),
        (M.GEOM_POLYGON, lambda mp: M.encode_polygon_geom(
            [[frac(r) for r in poly] for poly in mp], cfg.extent)))
    merges = (  # rank -> one geometry from a combine group's geometries
        lambda gs: _points_in_box(np.concatenate(gs), *box),
        lambda gs: G.merge_lines([p for g in gs for p in g]),
        OV.union_many)
    fids, uids, kinds, zorders, lays = (cols[c] for c in (
        "feature_id", "uid", "kind", "zorder", "layer_code"))
    # zoom-visibility filter BEFORE feature_limit truncation (reference
    # filters the per-tile object list by zoom before featureLimit) —
    # invisible features must not consume limit slots
    rows = rows[(cols["layer_minzoom"][rows] <= z)
                & (z <= cols["layer_maxzoom"][rows])
                & (cols["minzoom"][rows] <= z)]
    targets = cols["target"][rows]
    layers = []

    for layer_name in cfg.layer_order():
        sub = rows[targets == layer_name]
        if len(sub) == 0:
            continue
        ld0 = cfg.layers.get(layer_name, LayerDef(layer_name))
        # z-order sort within layer (reference src/tile_sorting.cpp:76-96):
        # zorder, then kind, then feature id, then attrs and geometry, a
        # total order: tied rows never keep their arrival order
        zo = zorders[sub]
        sub = sub[np.lexsort((cols["geom_digest"][sub],
                              cols["attrs_rank"][sub], fids[sub], kinds[sub],
                              zo if ld0.z_order_ascending else -zo))]
        if ld0.feature_limit > 0 and (ld0.feature_limit_below <= 0
                                      or z < ld0.feature_limit_below):
            sub = sub[: ld0.feature_limit]
        lb = M.LayerBuilder(layer_name, extent=cfg.extent)
        layers.append(lb)

        def emit(rank, geom, attrs, fid):
            typ, encode = encoders[rank]
            lb.add_feature(typ, encode(geom), attrs,
                           feature_id=int(fid) if cfg.include_ids else None)

        # compatible features (same kind, attrs and zorder) combine,
        # reference tile_worker.cpp:323-404
        combine = ({}, {}, {})
        for i, row in enumerate(sub):
            lay, kind = lays[row], kinds[row]
            ld, rank = cols["layer_defs"][lay], _RANK[kind]
            attrs = cols["attrs"][row]
            attrs = dict(attrs) if attrs is not None else {}
            if ld.attr_minzoom:
                # attribute minzoom (reference output_object.cpp:42)
                attrs = {k: v for k, v in attrs.items()
                         if ld.attr_minzoom.get(k, 0) <= z}
            if ld.attr_types:
                attrs = {k: _coerce_attr(v, ld.attr_types.get(k))
                         for k, v in attrs.items()}
            if rank == 0:
                # every point of a multipoint stays; the box test waits
                # for the flush
                geom = cols["coords"][row].reshape(-1, 2)
                merge = ld.combine_points
            else:
                src = clip_in.get(uids[row]) if clip_in else None
                if src is None:
                    src = G.unpack(kind, cols["coords"][row],
                                   cols["ring_sizes"][row],
                                   cols["poly_ring_counts"][row])
                geom = G.clip_to_box(kind, src, *box)
                if clip_out is not None:
                    clip_out[uids[row]] = geom
                if geom and rank == 1:
                    geom = _simplify_lines(geom, tols[lay],
                                           ld.simplify_algorithm)
                elif geom:
                    if cfg.repair_geometry:
                        geom = _repair(geom, src, box, cfg.repair_area_guard)
                    geom = _simplify_polygons(geom, tols[lay],
                                              ld.simplify_algorithm)
                    if athrs[lay] > 0:
                        geom = [p for p in geom if abs(
                            G.signed_ring_area_planar(p[0])) >= athrs[lay]]
                if not geom:
                    continue
                merge = z < (ld.combine_lines_below if rank == 1
                             else ld.combine_polygons_below)
                if not merge:
                    emit(rank, geom, attrs, fids[row])
                    continue
            akey = (kind, tuple(sorted(attrs.items())), zorders[row])
            combine[rank].setdefault(akey if merge else (akey, i),
                                     ([], attrs, fids[row]))[0].append(geom)
        for rank, table in enumerate(combine):
            for geoms, attrs, fid in table.values():
                geom = merges[rank](geoms)
                if len(geom):
                    emit(rank, geom, attrs, fid)

    if not any(lb.features for lb in layers):
        return None
    return M.build_tile(layers, compress=cfg.compress)


def _build_levels(cols: dict, zooms: range, cfg: Config, base_zoom: int,
                  clips: dict | None = None) -> tuple[list, dict]:
    """Every tile of ``cols``' rows (see :func:`_tile_columns`) at
    ``zooms``, top-down -> ((z, x, y, bytes) rows, the last zoom's clips).

    Clip pyramid (reference include/clip_cache.h:21-37): each tile below
    base zoom keeps its features' pre-simplify clips, keyed by ``uid``,
    and its four children clip from those, not from the original.
    ``clips`` maps a tile one zoom above ``zooms[0]`` to the clips its
    children start from."""
    out, clips = [], clips or {}
    for z in zooms:
        shift = base_zoom - z
        tkey = ((cols["bx"] >> shift) << 32) | (cols["by"] >> shift)
        cur: dict = {}
        for key, rows in _tile_groups(tkey, cols["uid"]):
            x, y = key >> 32, key & 0xFFFFFFFF
            clip_out = {} if z < base_zoom else None
            blob = _build_one_tile(cols, rows, z, x, y, cfg,
                                   clip_in=clips.get((x >> 1, y >> 1)),
                                   clip_out=clip_out)
            if clip_out is not None:
                cur[(x, y)] = clip_out
            if blob is not None:
                out.append((z, x, y, blob))
        clips = cur
    return out, clips


def _hand_over(table: pa.Table, take: np.ndarray, z: np.ndarray,
               base_zoom: int, clips: dict) -> pa.Table:
    """Rows ``take`` of ``table`` as HANDOFF rows, row i keyed by its
    tile at zoom ``z[i]`` (its ``_part`` left for :func:`_place`).  The
    first row of a feature in a tile carries the clip the feature got in
    that tile's parent (``clips``, the last level of
    :func:`_build_levels`), packed like ``coords`` / ``ring_sizes`` /
    ``poly_ring_counts``; its other rows, and a feature with no clip
    recorded, carry nulls."""
    tx = np.asarray(table.column("bx"))[take] >> (base_zoom - z)
    ty = np.asarray(table.column("by"))[take] >> (base_zoom - z)
    packed, seen = [(None,) * 3], set()  # packed[0]: no clip
    slot = np.zeros(len(take), np.int64)
    for i, (x, y, uid, kind) in enumerate(zip(
            tx.tolist(), ty.tolist(),
            *(np.asarray(table.column(c))[take].tolist()
              for c in ("uid", "kind")))):
        clip = clips.get((x >> 1, y >> 1), {}).get(uid)
        if clip is None or (x, y, uid) in seen:
            continue
        seen.add((x, y, uid))
        slot[i] = len(packed)
        packed.append(G.pack_multipolygon(
            [clip] if kind in (G.LINESTRING, G.MULTILINESTRING) else clip))
    n = len(take)
    return pa.Table.from_arrays(
        [pa.nulls(n, pa.int32()), pa.array(z, pa.int32()), pa.array(tx),
         pa.array(ty), pa.nulls(n, pa.binary()),
         *table.select(COVERED_ARROW.names).take(take).columns,
         *(pa.array(list(c), HANDOFF_ARROW.field(name).type).take(slot)
           for c, name in zip(zip(*packed), CLIP_COLUMNS))],
        schema=HANDOFF_ARROW)


def _low_rows(table: pa.Table, cfg: Config, base_zoom: int,
              n: int) -> pa.Table:
    """Pass 2's z0-5 rows out of cover rows ``table``: for each z from
    cfg.minzoom below CLUSTER_ZOOM, the rows ``low`` marks as their
    feature's first in its z tile, of features visible below CLUSTER_ZOOM
    (layer and feature minzoom), keyed by that tile with no clip.  A tile
    takes ``_part`` from its serial number in z order alone, so its rows
    from every z6 cell meet in one pass-2 group."""
    zooms = range(cfg.minzoom, min(CLUSTER_ZOOM, base_zoom + 1))
    layer = table.column("layer")
    visible = pc.is_in(layer, value_set=pa.array(
        [k for k, ld in cfg.layers.items() if ld.minzoom < CLUSTER_ZOOM],
        layer.type)).to_numpy() & (
            np.asarray(table.column("minzoom")) < CLUSTER_ZOOM)
    low = np.asarray(table.column("low"))
    take = [np.flatnonzero(visible & ((low >> z) & 1).astype(bool))
            for z in zooms]
    rows = _hand_over(
        table, np.concatenate([np.zeros(0, np.int64), *take]),
        np.repeat(np.asarray(zooms, np.int64), [len(t) for t in take]),
        base_zoom, {})
    z, x, y = (np.asarray(rows.column(c)) for c in ("_z", "_tx", "_ty"))
    serial = ((1 << 2 * z) - 1) // 3 + (y << z) + x
    return rows.set_column(0, HANDOFF_ARROW.field("_part"),
                           pa.array(serial % n, pa.int32()))


def _lpt(weights: np.ndarray, n: int) -> np.ndarray:
    """Longest processing time first: each item, heaviest first, goes to
    the least-loaded of ``n`` bins -> the bin of every item."""
    load = [(0, b) for b in range(n)]
    out = np.zeros(len(weights), np.int32)
    for i in np.argsort(-weights, kind="stable"):
        total, out[i] = heapq.heappop(load)
        heapq.heappush(load, (total + int(weights[i]), int(out[i])))
    return out


def _place(table: pa.Table, n: int, offset: int) -> pa.Table:
    """Set ``_part`` on HANDOFF rows: every (_z, _tx, _ty) group, weighed
    by its row count, goes to one of ``n`` pass-2 partitions by
    :func:`_lpt`, rotated by ``offset`` so that z6 cells do not all put
    their heaviest group on partition 0."""
    keys = np.column_stack([np.asarray(table.column(c))
                            for c in ("_z", "_tx", "_ty")])
    _, inv, counts = np.unique(keys, axis=0, return_inverse=True,
                               return_counts=True)
    part = (_lpt(counts, n) + offset) % n
    return table.set_column(0, HANDOFF_ARROW.field("_part"),
                            pa.array(part[inv.reshape(-1)], pa.int32()))


def _handed_clips(table: pa.Table) -> dict:
    """uid -> the clip :func:`_hand_over` packed into a row, for the
    features that carry one."""
    kinds = np.asarray(table.column("kind"))
    uids = np.asarray(table.column("uid"))
    views = G.packed_views(table, CLIP_COLUMNS)
    clips: dict = {}
    for i in np.flatnonzero(table.column(CLIP_COLUMNS[0]).is_valid()):
        if uids[i] not in clips:
            clips[uids[i]] = G.unpack(kinds[i], *(v[i] for v in views))
    return clips


def build_tiles(covered: DataFrame, cfg: Config,
                base_zoom: int = 14) -> DataFrame:
    """Covered features -> (z, x, y, tile binary) for zooms
    [cfg.minzoom, base_zoom], in two grouped passes split at
    z_s = base_zoom - SPLIT_DEPTH (no split when z_s <= CLUSTER_ZOOM):

    1. one group per z6 cell refines its coarse rows, builds zooms
       6..z_s-1 down the clip pyramid and hands every row on, keyed by
       its z_s tile and carrying its feature's z_s-1 clip, and each row
       the cover marked in ``low`` keyed by its z0-5 tile;
    2. one group per z_s tile builds z_s..base_zoom from the handed-over
       clips; one group per z0-5 tile builds that tile from source; the
       tiles pass 1 finished ride through as one-row groups.

    Pass 1 places each pass-2 group on one of ``defaultParallelism``
    partitions (:func:`_place`), and pass 2 reads them through
    ``repartitionById``: AQE would coalesce the small build shuffle to
    one task, and a hash of a dozen z_s tiles loads the cores unevenly.
    The result ends in an exchange, so pass 2 runs as a parallel shuffle
    stage even under ``toLocalIterator``, which runs the final stage one
    partition per job.  With cfg.clip_bbox set, ``covered`` must be the
    cover pruned to that box (:func:`generate_tiles`), and only tiles
    intersecting it are emitted."""
    dz = max(base_zoom - CLUSTER_ZOOM, 0)
    with_cell = covered.withColumn(
        "_cx", F.shiftright(F.col("bx"), dz)
    ).withColumn("_cy", F.shiftright(F.col("by"), dz))

    lo = max(cfg.minzoom, CLUSTER_ZOOM)
    split = base_zoom - SPLIT_DEPTH
    if split <= CLUSTER_ZOOM:
        split = base_zoom + 1  # pass 1 builds every zoom from z6 up

    def build_upper(key, table):  # unannotated: applyInArrow reads hints
        low = _low_rows(table, cfg, base_zoom, n)
        # refine coarse (large-object) rows to exact tiles, in-worker;
        # _tile_groups keeps one row per feature (uid) and tile
        table = _expand_coarse_rows(table, base_zoom, cfg.clip_bbox)
        cols = _tile_columns(table, cfg)
        out, clips = _build_levels(cols, range(lo, split), cfg, base_zoom)
        rows = rows_table([(None, *t) + (None,) * (len(HANDOFF_ARROW) - 5)
                           for t in out], HANDOFF_ARROW)
        if split <= base_zoom:
            rows = pa.concat_tables([rows, _hand_over(
                table, np.arange(table.num_rows),
                np.full(table.num_rows, split), base_zoom, clips)])
        cx, cy = (k.as_py() for k in key)
        return pa.concat_tables(
            [_place(rows, n, cx + (cy << CLUSTER_ZOOM)), low])

    def build_lower(key, table):
        _, z, x, y = (k.as_py() for k in key)
        if CLUSTER_ZOOM <= z < split:  # a tile pass 1 finished
            out = [(z, x, y, table.column("tile")[0].as_py())]
        else:  # a z0-5 tile, or a z_s tile and the subtree below it
            top = z if z < CLUSTER_ZOOM else base_zoom
            out, _ = _build_levels(
                _tile_columns(table, cfg), range(max(z, cfg.minzoom), top + 1),
                cfg, base_zoom, {(x >> 1, y >> 1): _handed_clips(table)})
        return rows_table([t for t in out if t[3] is not None], TILE_ARROW)

    n = covered.sparkSession.sparkContext.defaultParallelism
    tiles = with_cell.groupBy("_cx", "_cy").applyInArrow(
        build_upper, schema=from_arrow_schema(HANDOFF_ARROW)
    ).repartitionById(n, "_part").groupBy(
        "_part", "_z", "_tx", "_ty").applyInArrow(
            build_lower, schema=from_arrow_schema(TILE_ARROW))
    return tiles.repartition("z", "x", "y")


def generate_tiles(features: DataFrame, cfg: Config) -> DataFrame:
    """features -> (z, x, y, tile) end to end."""
    covered = cover_features(features, base_zoom=cfg.basezoom,
                             bbox=cfg.clip_bbox)
    return build_tiles(covered, cfg, base_zoom=cfg.basezoom)


def tile_assignments(covered: DataFrame, cfg: Config,
                     base_zoom: int = 14) -> DataFrame:
    """Per-tile feature assignment counts across all zooms — the parity
    table of FIXTURES.md §5 (expected_tile_assignments): roll the base-zoom
    cover up the pyramid with explode(sequence) + distinct, all JVM-side.
    Coarse (large-object) rows are refined to exact tiles first — this
    table's output is inherently per-tile."""
    covered = expand_coarse(covered, base_zoom)
    zs = F.sequence(F.lit(cfg.minzoom), F.lit(base_zoom))
    per_zoom = (
        covered.select("feature_id", "layer", "kind", "bx", "by",
                       F.explode(zs).alias("z"))
        .withColumn("x", F.expr(f"shiftright(bx, {base_zoom} - z)"))
        .withColumn("y", F.expr(f"shiftright(by, {base_zoom} - z)"))
        .dropDuplicates(["feature_id", "layer", "z", "x", "y"])
    )
    return per_zoom.groupBy("z", "x", "y", "layer").agg(
        F.count("*").alias("n_features"))


def tile_load_stats(points: DataFrame, zooms: tuple = (6, 9, 12),
                    lon_col: str = "lon",
                    lat_col: str = "lat") -> DataFrame:
    """Per-zoom tile LOAD statistics — the observability behind the
    reference's oversized-tile warnings (tilemaker logs tiles whose
    payload blows the budget; a 100 TB build needs the distribution,
    not a log line): for every requested zoom, the number of non-empty
    tiles, total points, the maximum per-tile load, and EXACT p50/p99
    order statistics of the per-tile load (index floor(q*(n-1)),
    1-based — no approximate percentile, so the oracle can match
    hash-exactly).

    Plan: one explode (|zooms| structs per point, pure Catalyst tile
    math) -> one (z,x,y) count shuffle (map-side combined) -> a
    per-zoom rank window over the COUNTS table (#tiles rows, not
    points) -> a |zooms|-row rollup.  The window partitions by zoom
    only, which is fine because its input is already one row per tile;
    at planet scale that is millions of rows per zoom, not billions of
    points."""
    from pyspark.sql import Window
    from ..sql import tile_exprs as TE
    lon, lat = F.col(lon_col), F.col(lat_col)
    zxy = points.select(F.explode(F.array(*[
        F.struct(F.lit(z).alias("z"),
                 TE.lon2tilex(lon, z).alias("x"),
                 TE.lat2tiley(lat, z).alias("y"))
        for z in zooms])).alias("t")).select("t.z", "t.x", "t.y")
    counts = zxy.groupBy("z", "x", "y").agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("z").orderBy("n", "x", "y")
    wz = Window.partitionBy("z")
    r = counts.select(
        "z", "n", F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wz).alias("cnt"))
    at = lambda q: ((F.col("cnt") - 1) * q) / 100  # noqa: E731
    return r.groupBy("z").agg(
        F.max("cnt").alias("n_tiles"),
        F.sum("n").alias("n_points"),
        F.max("n").alias("max_load"),
        F.max(F.when(F.col("rk") == F.floor(at(50)) + 1,
                     F.col("n"))).alias("p50_load"),
        F.max(F.when(F.col("rk") == F.floor(at(99)) + 1,
                     F.col("n"))).alias("p99_load"))


def heat_grid(points: DataFrame, zoom: int = 8, lon_col: str = "lon",
              lat_col: str = "lat") -> DataFrame:
    """Tile heat map with 3x3 neighborhood smoothing — the
    kernel-density rollup a density layer renders from: per non-empty
    tile, its own point count and the box-summed count of its 9-cell
    neighborhood.  Convolution over an aggregated grid, not the
    points: the raw table collapses to per-tile counts first (one
    map-side-combined shuffle), then each COUNT row fans out to its 9
    neighbor keys (a 9x explode of #tiles rows, not #points) and
    re-aggregates; a final equi-join keeps only real (non-empty)
    centers.  Output: (x, y, n, heat)."""
    from ..sql import tile_exprs as TE
    t = points.select(
        TE.lon2tilex(F.col(lon_col), zoom).alias("x"),
        TE.lat2tiley(F.col(lat_col), zoom).alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    spread = t.select(
        F.explode(F.array(*[
            F.struct((F.col("x") + dx).alias("x"),
                     (F.col("y") + dy).alias("y"))
            for dx, dy in offs])).alias("c"), "n"
    ).groupBy("c.x", "c.y").agg(F.sum("n").alias("heat"))
    return t.join(spread, ["x", "y"]).select("x", "y", "n", "heat")
