"""Tile assembly: features table -> (z, x, y, tile bytes).

The reference's tile phase (/root/reference/src/tilemaker.cpp:388-540,
src/tile_worker.cpp) re-expressed as two DataFrame jobs:

1. **cover** — every feature explodes to its base-zoom covering tiles
   (point: 1 tile; line: supercover; polygon: boundary + fill — the
   object->tile fan-out of src/tile_data.cpp:495-608).  One
   ``mapInArrow`` task per core (the input is repartitioned to
   ``defaultParallelism``) producing (bx, by, feature) rows keyed by the
   z6 ancestor cell (CLUSTER_ZOOM, include/tile_data_base.h:10-12).

2. **build** — group by z6 subtree; one Arrow table holds all of a
   subtree's features, and the ``applyInArrow`` worker materializes every
   tile for zooms 6..basezoom top-down (the clip-pyramid locality the
   reference gets from its tile iteration order, src/tile_sorting.cpp:98-152).
   Zooms 0..5 come from one more, much smaller grouped pass keyed by
   (z, x, y) (the reference's separate low-zoom object list,
   include/tile_data.h:115-147).  Both passes are lazy: building the
   plan runs no Spark job.  Workers pull each Arrow column out once
   (geometry as ``geom.packed_views``) and select rows with numpy indices.

Per-tile semantics mirror tile_worker.cpp: layer zoom-range + per-feature
minzoom filters, z-order sort (+ feature_limit top-k), combine of
compatible points/lines, zoom-scaled simplification, box clip with 0.5%
margin, area filter, MVT encode, gzip.

Feature schema (the engine's OutputObject analogue, ``FEATURE_ARROW``):
  feature_id long, layer string, kind tinyint (0 pt / 1 line / 3 poly),
  minzoom int, zorder long, attrs map<string,string>,
  coords array<double>, ring_sizes array<int>, poly_ring_counts array<int>
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import Config, LayerDef
from ..kernels import geom as G
from ..kernels import mvt as M
from ..kernels import overlay as OV
from ..kernels import proj as P

FEATURE_ARROW = pa.schema([
    ("feature_id", pa.int64()), ("layer", pa.string()), ("kind", pa.int8()),
    ("minzoom", pa.int32()), ("zorder", pa.int64()),
    ("attrs", pa.map_(pa.string(), pa.string())),
    ("coords", pa.list_(pa.float64())), ("ring_sizes", pa.list_(pa.int32())),
    ("poly_ring_counts", pa.list_(pa.int32()))])
COVERED_ARROW = pa.schema(list(FEATURE_ARROW) + [
    ("bx", pa.int64()), ("by", pa.int64()), ("coarse", pa.bool_())])
TILE_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int32()),
                        ("y", pa.int32()), ("tile", pa.binary())])
FEATURE_SCHEMA = from_arrow_schema(FEATURE_ARROW)

CLUSTER_ZOOM = 6  # reference include/tile_data_base.h:10-12

# features whose bbox spans >= this many base-zoom tiles take the coarse
# path: explode to z6 cells, refine to tiles inside the subtree worker
# (reference's small/large dual object index, src/tile_data.cpp:524-540)
LARGE_THRESHOLD = 16


# ---------------------------------------------------------------------------
# stage 1: cover
# ---------------------------------------------------------------------------

def _bbox_tile_span(pts: np.ndarray, z: int) -> int:
    """Number of z-tiles in the bbox of pts (cheap upper bound on the
    covering-tile count; the reference thresholds on the true covering
    count but bbox span classifies identically for the features that
    matter — anything bbox-small is covering-small)."""
    m = (1 << z) - 1
    tx = np.clip(np.floor(P.lon2tilexf(pts[:, 0], z)), 0, m)
    ty = np.clip(np.floor(P.lat2tileyf(pts[:, 1], z)), 0, m)
    return int((tx.max() - tx.min() + 1) * (ty.max() - ty.min() + 1))


def rows_table(rows: list, schema: pa.Schema) -> pa.Table:
    """Python row tuples -> one Arrow table of ``schema``: how workers
    hand back rows they compute one at a time."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def _with_tiles(batch, rows, cells: list, coarse: np.ndarray) -> pa.Table:
    """Row ``rows[i]`` of ``batch`` once per tile of ``cells[i]`` (an
    (n, 2) array), with the tile appended as (bx, by) and ``coarse[i]``:
    the one row-repeat step of cover and of the coarse refine."""
    reps = [len(c) for c in cells]
    xy = np.concatenate(cells) if cells else np.zeros((0, 2), np.int64)
    cols = batch.select(FEATURE_ARROW.names).take(np.repeat(rows, reps))
    return pa.Table.from_arrays(
        [*cols.columns, pa.array(xy[:, 0]), pa.array(xy[:, 1]),
         pa.array(np.repeat(coarse, reps))], schema=COVERED_ARROW)


def cover_features(features: DataFrame, base_zoom: int = 14,
                   large_threshold: int | None = LARGE_THRESHOLD
                   ) -> DataFrame:
    """Explode features to covering tiles. Adds (bx, by, coarse) columns.

    Dual path (reference src/tile_data.cpp:524-540): small features
    explode to their exact base-zoom covering tiles (coarse=false); large
    features — bbox span >= ``large_threshold`` tiles — explode only to
    their CLUSTER_ZOOM covering cells (coarse=true, bx/by = the cell's
    first base tile), so a planet-sized polygon produces O(4^CLUSTER_ZOOM)
    rows instead of O(4^base_zoom).  The exact per-tile membership for
    coarse rows is recovered inside the subtree worker by
    :func:`_expand_coarse_rows` (clip to cell bbox, cover the clip) —
    the clip-pyramid refine the reference gets from its R-tree walk.
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
        for batch in batches:
            kinds = np.asarray(batch.column("kind"))
            cells, coarse = [], np.zeros(len(kinds), bool)
            for i, (kind, coords, rs, prc) in enumerate(zip(
                    kinds, *G.packed_views(batch))):
                geom = G.unpack(kind, coords, rs, prc)
                if (dual and kind != G.POINT and _bbox_tile_span(
                        coords.reshape(-1, 2), base_zoom) >= large_threshold):
                    coarse[i] = True
                    cells.append(  # cell -> its first base tile
                        G.covering_tiles(kind, geom, CLUSTER_ZOOM) << dz)
                else:
                    cells.append(G.covering_tiles(kind, geom, base_zoom))
            yield from _with_tiles(batch, np.arange(len(kinds)), cells,
                                   coarse).to_batches()

    return features.mapInArrow(gen, from_arrow_schema(COVERED_ARROW))


def _expand_coarse_rows(batch, base_zoom: int) -> pa.Table:
    """Refine coarse (cell-granularity) rows to exact per-base-tile rows:
    clip each geometry to its z6 cell bbox (one base-tile margin so edge
    supercover matches the global cover), cover the clipped geometry at
    base_zoom, keep cells inside the z6 cell's tile range.  The exact
    rows come first, then the refined ones.  Runs inside the subtree
    worker — the fan-out never crosses a shuffle."""
    dz = base_zoom - CLUSTER_ZOOM
    coarse = np.asarray(batch.column("coarse"))
    exact, big = np.flatnonzero(~coarse), np.flatnonzero(coarse)
    xy = np.column_stack([batch.column("bx"), batch.column("by")])
    cells = list(xy[exact, None])  # an exact row keeps its one tile
    for (bx, by), kind, coords, rs, prc in zip(
            xy[big], np.asarray(batch.column("kind"))[big],
            *G.packed_views(batch.take(big))):
        cx, cy = int(bx) >> dz, int(by) >> dz
        minlon, minlatp, maxlon, maxlatp = _tile_bbox(
            CLUSTER_ZOOM, cx, cy, margin=1.0 / (1 << dz))
        box = (minlon, float(P.latp2lat(minlatp)),
               maxlon, float(P.latp2lat(maxlatp)))
        geom = G.unpack(kind, coords, rs, prc)
        if kind in (G.LINESTRING, G.MULTILINESTRING):
            geom = [part for l in geom
                    for part in G.clip_line_to_box(l, *box)]
        else:
            geom = G.clip_multipolygon_to_box(geom, *box)
        c = G.covering_tiles(kind, geom, base_zoom)
        cells.append(c[((c[:, 0] >> dz) == cx) & ((c[:, 1] >> dz) == cy)])
    return _with_tiles(batch, np.concatenate([exact, big]), cells,
                       np.zeros(len(cells), bool))


def expand_coarse(covered: DataFrame, base_zoom: int = 14) -> DataFrame:
    """DataFrame twin of :func:`_expand_coarse_rows` for consumers that
    need exact per-tile rows outside the subtree worker (e.g.
    :func:`tile_assignments` — whose output is inherently per-tile)."""
    def gen(batches):
        for batch in batches:
            yield from _expand_coarse_rows(batch, base_zoom).to_batches()

    return covered.mapInArrow(gen, from_arrow_schema(COVERED_ARROW))


def _bbox_tile_range(bbox: tuple, zoom: int) -> tuple[int, int, int, int]:
    """Inclusive (x0, x1, y0, y1) range of the ``zoom`` tiles that
    intersect ``bbox`` (minlon, minlat, maxlon, maxlat)."""
    minlon, minlat, maxlon, maxlat = bbox
    m = (1 << zoom) - 1
    x0 = max(0, min(m, int(P.lon2tilexf(minlon, zoom))))
    x1 = max(0, min(m, int(P.lon2tilexf(maxlon, zoom))))
    y0 = max(0, min(m, int(P.lat2tileyf(maxlat, zoom))))
    y1 = max(0, min(m, int(P.lat2tileyf(minlat, zoom))))
    return x0, x1, y0, y1


def prune_cover_to_bbox(covered: DataFrame, bbox: tuple,
                        zoom: int) -> DataFrame:
    """Keep the cover rows that can reach a tile intersecting ``bbox``
    (minlon, minlat, maxlon, maxlat) at ``zoom`` (reference --bbox,
    src/tilemaker.cpp:368-379): an exact row when its tile lies in the
    box's tile range, a coarse row when its z6 cell's block of
    ``1 << (zoom - CLUSTER_ZOOM)`` base tiles overlaps that range."""
    x0, x1, y0, y1 = _bbox_tile_range(bbox, zoom)
    exact_ok = F.col("bx").between(x0, x1) & F.col("by").between(y0, y1)
    if "coarse" not in covered.columns:
        return covered.filter(exact_ok)
    width = 1 << max(0, zoom - CLUSTER_ZOOM)
    coarse_ok = ((F.col("bx") <= x1) & (F.col("bx") + width - 1 >= x0)
                 & (F.col("by") <= y1) & (F.col("by") + width - 1 >= y0))
    return covered.filter(
        F.when(F.col("coarse"), coarse_ok).otherwise(exact_ok))


# ---------------------------------------------------------------------------
# stage 2: per-subtree tile builder
# ---------------------------------------------------------------------------

def _tile_bbox(z: int, x: int, y: int, margin: float = 0.005):
    """Tile lon/latp-degree box with 0.5% margin (reference TileBbox,
    src/coordinates_geom.cpp:9-31). Returns (minlon, minlatp, maxlon,
    maxlatp, spanlon, spanlatp) — y axis in latp, flipped later."""
    span = 360.0 / (1 << z)
    minlon = x * span - 180.0
    maxlatp = 180.0 - y * span
    m = span * margin
    return minlon - m, maxlatp - span - m, minlon + span + m, maxlatp + m


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


def _merge_lines(lines: list[np.ndarray], cap: int = 6000) -> list[np.ndarray]:
    """Chain same-attribute linestrings end-to-start with a point cap
    (reference ReorderMultiLinestring, src/tile_worker.cpp:29-77)."""
    segs = [l for l in lines if len(l) >= 2]
    used = [False] * len(segs)
    out = []
    for i in range(len(segs)):
        if used[i]:
            continue
        used[i] = True
        chain = [segs[i]]
        npts = len(segs[i])
        end = tuple(segs[i][-1])
        start = tuple(segs[i][0])
        grew = True
        while grew and npts < cap:
            grew = False
            for j in range(len(segs)):
                if used[j]:
                    continue
                s = segs[j]
                if tuple(s[0]) == end:
                    chain.append(s[1:]); end = tuple(s[-1])
                elif tuple(s[-1]) == end:
                    chain.append(s[::-1][1:]); end = tuple(s[0])
                elif tuple(s[-1]) == start:
                    chain.insert(0, s[:-1]); start = tuple(s[0])
                elif tuple(s[0]) == start:
                    chain.insert(0, s[::-1][:-1]); start = tuple(s[-1])
                else:
                    continue
                used[j] = True
                npts += len(s) - 1
                grew = True
                break
        out.append(np.vstack(chain))
    return out


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


def _tile_columns(table: pa.Table, cfg: Config) -> dict:
    """Take a table's columns out once, as numpy arrays and packed views,
    for :func:`_build_one_tile`; adds each row's layer code, layer
    definition's zoom range and output (``write_to``) layer."""
    cols = {c: np.asarray(table.column(c))
            for c in ("feature_id", "kind", "minzoom", "zorder", "bx", "by")}
    cols.update(zip(G.PACKED, G.packed_views(table)))
    cols["attrs"] = table.column("attrs").to_pylist()
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


def _tile_groups(tkey: np.ndarray, fid: np.ndarray, layer: np.ndarray):
    """Yield (tile key, row indices) per distinct key, keys ascending.  A
    (feature_id, layer) pair keeps only its first row in each tile, and
    a tile's rows stay in input order."""
    order = np.lexsort((layer, fid, tkey))
    t, f, l = tkey[order], fid[order], layer[order]
    first = np.ones(len(order), bool)
    first[1:] = (t[1:] != t[:-1]) | (f[1:] != f[:-1]) | (l[1:] != l[:-1])
    keep = np.sort(order[first])
    keep = keep[np.argsort(tkey[keep], kind="stable")]
    for rows in np.split(keep, np.flatnonzero(np.diff(tkey[keep])) + 1):
        if len(rows):
            yield int(tkey[rows[0]]), rows


def _build_one_tile(cols: dict, rows: np.ndarray, z: int, x: int, y: int,
                    cfg: Config, clip_in: dict | None = None,
                    clip_out: dict | None = None) -> bytes | None:
    """The features at ``rows`` of ``cols`` (see :func:`_tile_columns`),
    all already known to touch (z,x,y) -> MVT tile bytes.

    Clip-pyramid reuse (reference include/clip_cache.h:21-37): when
    ``clip_in`` is given, clip_in[(feature_id, layer code)] may hold the
    feature's geometry already clipped to the PARENT tile's box (a
    superset of this tile's box+margin) — clipping proceeds from that
    much smaller input instead of the original geometry.  When
    ``clip_out`` is given, this tile's pre-simplify clip is stored under
    the same key for the four child tiles to consume."""
    minlon, minlatp, maxlon, maxlatp = _tile_bbox(z, x, y)
    minlat = float(P.latp2lat(minlatp))
    maxlat = float(P.latp2lat(maxlatp))
    builders: dict[str, M.LayerBuilder] = {}
    fids, kinds, zorders, lays = (
        cols[c] for c in ("feature_id", "kind", "zorder", "layer_code"))
    # zoom-visibility filter BEFORE feature_limit truncation (reference
    # filters the per-tile object list by zoom before featureLimit) —
    # invisible features must not consume limit slots
    rows = rows[(cols["layer_minzoom"][rows] <= z)
                & (z <= cols["layer_maxzoom"][rows])
                & (cols["minzoom"][rows] <= z)]
    targets = cols["target"][rows]

    for layer_name in cfg.layer_order():
        sub = rows[targets == layer_name]
        if len(sub) == 0:
            continue
        ld0 = cfg.layers.get(layer_name, LayerDef(layer_name))
        # stable z-order sort within layer (reference
        # src/tile_sorting.cpp:76-96): zorder, then kind, then feature id
        zo = zorders[sub]
        sub = sub[np.lexsort((fids[sub], kinds[sub],
                              zo if ld0.z_order_ascending else -zo))]
        if ld0.feature_limit > 0 and (ld0.feature_limit_below <= 0
                                      or z < ld0.feature_limit_below):
            sub = sub[: ld0.feature_limit]

        lb = builders.setdefault(
            layer_name, M.LayerBuilder(layer_name, extent=cfg.extent))

        # combine compatible features (same attrs+kind), reference
        # tile_worker.cpp:323-404
        tol_cache: dict[int, float] = {}
        point_groups: dict = {}
        line_groups: dict = {}
        poly_groups: dict = {}
        for i, row in enumerate(sub):
            lay = lays[row]
            ld = cols["layer_defs"][lay]
            fid = fids[row]
            kind = kinds[row]
            attrs = cols["attrs"][row]
            attrs = dict(attrs) if attrs is not None else {}
            if ld.attr_minzoom:
                # attribute minzoom (reference output_object.cpp:42)
                attrs = {k: v for k, v in attrs.items()
                         if ld.attr_minzoom.get(k, 0) <= z}
            if ld.attr_types:
                attrs = {k: _coerce_attr(v, ld.attr_types.get(k))
                         for k, v in attrs.items()}
            akey = (kind, tuple(sorted(attrs.items())), zorders[row])
            coords = cols["coords"][row].reshape(-1, 2)
            if kind == G.POINT:
                # multipoint-aware: keep every point (geojson can emit
                # kind=POINT with N>1 points)
                if ld.combine_points:
                    point_groups.setdefault(akey, ([], attrs, fid))[0].extend(
                        coords)
                else:
                    point_groups.setdefault(
                        (akey, i), ([], attrs, fid))[0].extend(coords)
            elif kind in (G.LINESTRING, G.MULTILINESTRING):
                gkey = (fid, lay)
                cached = clip_in.get(gkey) if clip_in else None
                lines = cached if cached is not None else G.unpack(
                    kind, coords, cols["ring_sizes"][row],
                    cols["poly_ring_counts"][row])
                parts = []
                for l in lines:
                    parts.extend(G.clip_line_to_box(
                        l, minlon, minlat, maxlon, maxlat))
                if clip_out is not None:
                    clip_out[gkey] = parts
                if not parts:
                    continue
                tol = tol_cache.setdefault(
                    lay, _simplify_tolerance(ld, z, _tile_mid_latp(z, y)))
                if tol > 0:
                    parts = [
                        (G.douglas_peucker(p, tol)
                         if ld.simplify_algorithm != "visvalingam"
                         else G.visvalingam(p, tol * tol))
                        for p in parts
                    ]
                if ld.combine_lines_below > 0 and z < ld.combine_lines_below:
                    line_groups.setdefault(akey, ([], attrs, fid))[0].extend(
                        parts)
                else:
                    frac = [_to_tile_frac(p, z, x, y) for p in parts]
                    cmds = M.encode_line_geom(frac, cfg.extent)
                    lb.add_feature(
                        M.GEOM_LINESTRING, cmds, attrs,
                        feature_id=int(fid) if cfg.include_ids else None)
            else:  # polygon
                gkey = (fid, lay)
                cached = clip_in.get(gkey) if clip_in else None
                mp = cached if cached is not None else G.unpack(
                    kind, coords, cols["ring_sizes"][row],
                    cols["poly_ring_counts"][row])
                clipped = G.clip_multipolygon_to_box(
                    mp, minlon, minlat, maxlon, maxlat)
                if clip_out is not None:
                    clip_out[gkey] = clipped
                if not clipped:
                    continue
                if (cfg.repair_geometry
                        and not G.multipolygon_is_simple(clipped)):
                    # escalation chain (reference src/tile_data.cpp:380-426,
                    # src/geom.cpp:140-224): remove_spikes first; if rings
                    # still self-intersect, robust even-odd re-intersection
                    # of the ORIGINAL geometry with the tile box; keep only
                    # if >= repair_area_guard of the naive area survives,
                    # else drop the feature (reference drop rule)
                    despiked = []
                    for poly in clipped:
                        rings = [G.remove_spikes(r) for r in poly]
                        rings = [r for r in rings if len(r) >= 4]
                        if rings:
                            despiked.append(rings)
                    if despiked and G.multipolygon_is_simple(despiked):
                        clipped = despiked
                    else:
                        box = [[np.array(
                            [[minlon, minlat], [maxlon, minlat],
                             [maxlon, maxlat], [minlon, maxlat],
                             [minlon, minlat]], np.float64)]]
                        naive = sum(
                            abs(G.signed_ring_area_planar(p[0]))
                            for p in (despiked or clipped))
                        robust = OV.intersection(mp, box)
                        if robust and OV.area_planar(robust) >= (
                                cfg.repair_area_guard * naive):
                            clipped = robust
                        else:
                            continue
                tol = tol_cache.setdefault(
                    lay, _simplify_tolerance(ld, z, _tile_mid_latp(z, y)))
                if tol > 0 and ld.simplify_algorithm == "buildings":
                    # rectilinear building simplification (reference
                    # tile_worker.cpp:231-235, simplify_buildings.cpp)
                    if sum(len(p[0]) for p in clipped) > 5 or len(
                            clipped) > 1:
                        clipped = G.simplify_buildings(clipped, tol)
                    if not clipped:
                        continue
                elif tol > 0:
                    mp2 = []
                    for poly in clipped:
                        outer = G.simplify_ring(poly[0], tol,
                                                ld.simplify_algorithm)
                        if len(outer) < 4:
                            continue
                        rings = [outer]
                        for hole in poly[1:]:
                            hh = G.simplify_ring(hole, tol,
                                                 ld.simplify_algorithm)
                            if len(hh) >= 4:
                                rings.append(hh)
                        mp2.append(rings)
                    clipped = mp2
                athr = _area_threshold(ld, z, _tile_mid_latp(z, y))
                if athr > 0:
                    clipped = [
                        poly for poly in clipped
                        if abs(G.signed_ring_area_planar(poly[0])) >= athr
                    ]
                if not clipped:
                    continue
                if (ld.combine_polygons_below > 0
                        and z < ld.combine_polygons_below):
                    # same-attribute polygons union per tile (reference
                    # src/tile_worker.cpp:393-404, geom.cpp:232-290)
                    poly_groups.setdefault(
                        akey, ([], attrs, fid))[0].append(clipped)
                    continue
                frac_mp = [
                    [_to_tile_frac(r, z, x, y) for r in poly]
                    for poly in clipped
                ]
                cmds = M.encode_polygon_geom(frac_mp, cfg.extent)
                lb.add_feature(
                    M.GEOM_POLYGON, cmds, attrs,
                    feature_id=int(fid) if cfg.include_ids else None)

        for pts, attrs, fid in point_groups.values():
            arr = np.asarray(pts)
            inside = (
                (arr[:, 0] >= minlon) & (arr[:, 0] <= maxlon)
                & (arr[:, 1] >= minlat) & (arr[:, 1] <= maxlat))
            arr = arr[inside]
            if len(arr) == 0:
                continue
            frac = _to_tile_frac(arr, z, x, y)
            cmds = M.encode_point_geom(frac, cfg.extent)
            lb.add_feature(
                M.GEOM_POINT, cmds, attrs,
                feature_id=int(fid) if cfg.include_ids else None)
        for parts, attrs, fid in line_groups.values():
            merged = _merge_lines(parts)
            frac = [_to_tile_frac(p, z, x, y) for p in merged]
            cmds = M.encode_line_geom(frac, cfg.extent)
            lb.add_feature(
                M.GEOM_LINESTRING, cmds, attrs,
                feature_id=int(fid) if cfg.include_ids else None)
        for mps, attrs, fid in poly_groups.values():
            merged = OV.union_many(mps) if len(mps) > 1 else mps[0]
            if not merged:
                continue
            frac_mp = [
                [_to_tile_frac(r, z, x, y) for r in poly] for poly in merged
            ]
            cmds = M.encode_polygon_geom(frac_mp, cfg.extent)
            lb.add_feature(
                M.GEOM_POLYGON, cmds, attrs,
                feature_id=int(fid) if cfg.include_ids else None)

    live = [lb for lb in builders.values() if lb.features]
    if not live:
        return None
    return M.build_tile(live, compress=cfg.compress)


def build_tiles(covered: DataFrame, cfg: Config,
                base_zoom: int = 14) -> DataFrame:
    """Covered features -> (z, x, y, tile binary) for zooms
    [cfg.minzoom, base_zoom], grouped by z6 subtree (clip-pyramid reuse).
    With cfg.clip_bbox set, out-of-box cover rows are pruned before the
    shuffle and only tiles intersecting the box are emitted."""
    dz = base_zoom - CLUSTER_ZOOM
    box = None
    if cfg.clip_bbox is not None:
        covered = prune_cover_to_bbox(covered, cfg.clip_bbox, base_zoom)
        box = _bbox_tile_range(cfg.clip_bbox, base_zoom)
    with_cell = covered.withColumn(
        "_cx", F.shiftright(F.col("bx"), dz)
    ).withColumn("_cy", F.shiftright(F.col("by"), dz))

    lo = max(cfg.minzoom, CLUSTER_ZOOM)
    schema = from_arrow_schema(TILE_ARROW)

    def build_subtree(table):  # unannotated: applyInArrow reads hints
        # refine coarse (large-object) rows to exact tiles, in-worker;
        # _tile_groups keeps one row per (feature_id, layer) and tile
        table = _expand_coarse_rows(table, base_zoom)
        if box is not None:
            # a refined large feature covers its whole z6 cell, which
            # may overhang the box
            x0, x1, y0, y1 = box
            bx, by = pc.field("bx"), pc.field("by")
            table = table.filter((bx >= x0) & (bx <= x1) & (by >= y0)
                                 & (by <= y1))
        cols = _tile_columns(table, cfg)
        out = []
        # clip pyramid (reference include/clip_cache.h:21-37): each tile
        # keeps its pre-simplify clips; the four children at z+1 clip
        # from their parent's clip, not the original
        prev_clips: dict = {}
        for z in range(lo, base_zoom + 1):
            shift = base_zoom - z
            tkey = ((cols["bx"] >> shift) << 32) | (cols["by"] >> shift)
            cur_clips: dict = {}
            for key, rows in _tile_groups(tkey, cols["feature_id"],
                                          cols["layer_code"]):
                x, y = key >> 32, key & 0xFFFFFFFF
                clip_out = {} if z < base_zoom else None
                blob = _build_one_tile(cols, rows, z, x, y, cfg,
                                       clip_in=prev_clips.get((x >> 1,
                                                               y >> 1)),
                                       clip_out=clip_out)
                if clip_out is not None:
                    cur_clips[(x, y)] = clip_out
                if blob is not None:
                    out.append((z, x, y, blob))
            prev_clips = cur_clips
        return rows_table(out, TILE_ARROW)

    high = with_cell.groupBy("_cx", "_cy").applyInArrow(build_subtree,
                                                        schema=schema)
    zooms = range(cfg.minzoom, min(CLUSTER_ZOOM, base_zoom + 1))
    if not zooms:
        return high

    # low-zoom pass: only features visible below CLUSTER_ZOOM (per-layer
    # and per-feature minzoom), pre-deduped to z5 tile granularity — the
    # full base-zoom fanout never moves.  One job for every z<6 tile:
    # each row explodes to its ancestor tile at every low zoom and the
    # build groups by (z, x, y), so low tiles build in parallel across
    # tiles (the single z0 tile is irreducible, but its group holds only
    # its own features, not the whole planet's fanout).  Coarse
    # (large-object) rows need no expansion here: their z6-cell bx/by is
    # exact membership for every z<=6 ancestor tile.
    low_visible_layers = [
        name for name, ld in cfg.layers.items() if ld.minzoom < CLUSTER_ZOOM
    ]

    def build_low_tile(key, table):
        z, x, y = (k.as_py() for k in key)
        blob = _build_one_tile(_tile_columns(table, cfg),
                               np.arange(table.num_rows), z, x, y, cfg)
        return rows_table([(z, x, y, blob)] if blob is not None else [],
                          TILE_ARROW)

    dz5 = base_zoom - (CLUSTER_ZOOM - 1)
    low = (
        with_cell
        .filter(F.col("layer").isin(low_visible_layers)
                if low_visible_layers else F.lit(False))
        .filter(F.col("minzoom") < CLUSTER_ZOOM)
        .withColumn("_p5x", F.shiftright(F.col("bx"), dz5))
        .withColumn("_p5y", F.shiftright(F.col("by"), dz5))
        .dropDuplicates(["feature_id", "layer", "_p5x", "_p5y"])
        .withColumn("_z", F.explode(F.array(*[F.lit(z) for z in zooms])))
        .withColumn("_tx", F.expr(f"shiftright(bx, {base_zoom} - _z)"))
        .withColumn("_ty", F.expr(f"shiftright(by, {base_zoom} - _z)"))
        .dropDuplicates(["feature_id", "layer", "_z", "_tx", "_ty"])
        .groupBy("_z", "_tx", "_ty")
        .applyInArrow(build_low_tile, schema=schema)
    )
    return high.unionByName(low)


def generate_tiles(features: DataFrame, cfg: Config) -> DataFrame:
    """features -> (z, x, y, tile) end to end."""
    covered = cover_features(features, base_zoom=cfg.basezoom)
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
