"""Tile assembly: features table -> (z, x, y, tile bytes).

The reference's tile phase (/root/reference/src/tilemaker.cpp:388-540,
src/tile_worker.cpp) re-expressed as two DataFrame jobs:

1. **cover** — every feature explodes to its base-zoom covering tiles
   (point: 1 tile; line: supercover; polygon: boundary + fill — the
   object->tile fan-out of src/tile_data.cpp:495-608).  Pure shuffle-free
   ``mapInPandas`` producing (bx, by, feature) rows keyed by the z6
   ancestor cell (CLUSTER_ZOOM, include/tile_data_base.h:10-12).

2. **build** — group by z6 subtree; one Arrow batch holds all of a
   subtree's features, and the pandas worker materializes every tile for
   zooms 6..basezoom top-down (the clip-pyramid locality the reference
   gets from its tile iteration order, src/tile_sorting.cpp:98-152).
   Zooms 0..5 come from a second, much smaller pass grouped at z0 (the
   reference's separate low-zoom object list, include/tile_data.h:115-147).

Per-tile semantics mirror tile_worker.cpp: layer zoom-range + per-feature
minzoom filters, z-order sort (+ feature_limit top-k), combine of
compatible points/lines, zoom-scaled simplification, box clip with 0.5%
margin, area filter, MVT encode, gzip.

Feature schema (the engine's OutputObject analogue):
  feature_id long, layer string, kind tinyint (0 pt / 1 line / 3 poly),
  minzoom int, zorder long, attrs map<string,string>,
  coords array<double>, ring_sizes array<int>, poly_ring_counts array<int>
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Config, LayerDef
from ..kernels import geom as G
from ..kernels import mvt as M
from ..kernels import overlay as OV
from ..kernels import proj as P

FEATURE_SCHEMA = (
    "feature_id long, layer string, kind tinyint, minzoom int, zorder long, "
    "attrs map<string,string>, coords array<double>, ring_sizes array<int>, "
    "poly_ring_counts array<int>"
)

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
    cols = features.columns
    out_schema = FEATURE_SCHEMA + ", bx long, by long, coarse boolean"
    dz = base_zoom - CLUSTER_ZOOM
    dual = large_threshold is not None and dz > 0
    # spread the input first: single-file feature tables would otherwise
    # run the whole covering fan-out on one core
    parallelism = features.sparkSession.sparkContext.defaultParallelism
    if features.rdd.getNumPartitions() < parallelism:
        features = features.repartition(parallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reps, bxs, bys, crs = [], [], [], []
            for i in range(len(pdf)):
                kind = pdf["kind"].iloc[i]
                coords = np.asarray(pdf["coords"].iloc[i], np.float64)
                pts = coords.reshape(-1, 2)
                coarse = False
                if kind == G.POINT:
                    # multipoint: cover every point's tile (not just pts[0])
                    cells = np.unique(np.concatenate([
                        G.covering_tiles_point(p[0], p[1], base_zoom)
                        for p in pts
                    ]), axis=0) if len(pts) > 1 else G.covering_tiles_point(
                        pts[0, 0], pts[0, 1], base_zoom)
                elif dual and _bbox_tile_span(
                        pts, base_zoom) >= large_threshold:
                    coarse = True
                    if kind in (G.LINESTRING, G.MULTILINESTRING):
                        lines = G.unpack_lines(
                            coords, np.asarray(pdf["ring_sizes"].iloc[i],
                                               np.int64))
                        cells = np.unique(np.concatenate([
                            G.covering_tiles_line(l, CLUSTER_ZOOM)
                            for l in lines
                        ]), axis=0)
                    else:
                        mp = G.unpack_multipolygon(
                            coords,
                            np.asarray(pdf["ring_sizes"].iloc[i], np.int64),
                            np.asarray(pdf["poly_ring_counts"].iloc[i],
                                       np.int64))
                        cells = G.covering_tiles_polygon(mp, CLUSTER_ZOOM)
                    cells = cells << dz  # cell -> its first base tile
                elif kind in (G.LINESTRING, G.MULTILINESTRING):
                    lines = G.unpack_lines(
                        coords, np.asarray(pdf["ring_sizes"].iloc[i],
                                           np.int64))
                    cells = np.unique(np.concatenate([
                        G.covering_tiles_line(l, base_zoom) for l in lines
                    ]), axis=0)
                else:
                    mp = G.unpack_multipolygon(
                        coords,
                        np.asarray(pdf["ring_sizes"].iloc[i], np.int64),
                        np.asarray(pdf["poly_ring_counts"].iloc[i], np.int64))
                    cells = G.covering_tiles_polygon(mp, base_zoom)
                reps.append(len(cells))
                bxs.append(cells[:, 0])
                bys.append(cells[:, 1])
                crs.append(np.full(len(cells), coarse))
            out = pdf.loc[pdf.index.repeat(reps)].reset_index(drop=True)
            out["bx"] = np.concatenate(bxs) if bxs else np.zeros(0, np.int64)
            out["by"] = np.concatenate(bys) if bys else np.zeros(0, np.int64)
            out["coarse"] = (np.concatenate(crs) if crs
                             else np.zeros(0, bool))
            yield out[cols + ["bx", "by", "coarse"]]

    return features.mapInPandas(gen, schema=out_schema)


def _expand_coarse_rows(pdf: pd.DataFrame, base_zoom: int) -> pd.DataFrame:
    """Refine coarse (cell-granularity) rows to exact per-base-tile rows:
    clip each geometry to its z6 cell bbox (one base-tile margin so edge
    supercover matches the global cover), cover the clipped geometry at
    base_zoom, keep cells inside the z6 cell's tile range.  Runs inside
    the subtree worker — the fan-out never crosses a shuffle."""
    if "coarse" not in pdf.columns or not pdf["coarse"].any():
        return pdf
    dz = base_zoom - CLUSTER_ZOOM
    small = pdf[~pdf["coarse"]]
    big = pdf[pdf["coarse"]]
    out_rows = [small]
    reps, bxs, bys = [], [], []
    for i in range(len(big)):
        row = big.iloc[i]
        cx, cy = int(row["bx"]) >> dz, int(row["by"]) >> dz
        x0, x1 = cx << dz, ((cx + 1) << dz) - 1
        y0, y1 = cy << dz, ((cy + 1) << dz) - 1
        minlon, minlatp, maxlon, maxlatp = _tile_bbox(
            CLUSTER_ZOOM, cx, cy, margin=1.0 / (1 << dz))
        minlat = float(P.latp2lat(minlatp))
        maxlat = float(P.latp2lat(maxlatp))
        coords = np.asarray(row["coords"], np.float64)
        kind = row["kind"]
        if kind in (G.LINESTRING, G.MULTILINESTRING):
            lines = G.unpack_lines(
                coords, np.asarray(row["ring_sizes"], np.int64))
            parts = []
            for l in lines:
                parts.extend(G.clip_line_to_box(
                    l, minlon, minlat, maxlon, maxlat))
            if not parts:
                reps.append(0)
                continue
            cells = np.unique(np.concatenate([
                G.covering_tiles_line(p, base_zoom) for p in parts
            ]), axis=0)
        else:
            mp = G.unpack_multipolygon(
                coords, np.asarray(row["ring_sizes"], np.int64),
                np.asarray(row["poly_ring_counts"], np.int64))
            clipped = G.clip_multipolygon_to_box(
                mp, minlon, minlat, maxlon, maxlat)
            if not clipped:
                reps.append(0)
                continue
            cells = G.covering_tiles_polygon(clipped, base_zoom)
        keep = ((cells[:, 0] >= x0) & (cells[:, 0] <= x1)
                & (cells[:, 1] >= y0) & (cells[:, 1] <= y1))
        cells = cells[keep]
        reps.append(len(cells))
        bxs.append(cells[:, 0])
        bys.append(cells[:, 1])
    exp = big.loc[big.index.repeat(reps)].copy()
    exp["bx"] = np.concatenate(bxs) if bxs else np.zeros(0, np.int64)
    exp["by"] = np.concatenate(bys) if bys else np.zeros(0, np.int64)
    exp["coarse"] = False
    out_rows.append(exp)
    return pd.concat(out_rows, ignore_index=True)


def expand_coarse(covered: DataFrame, base_zoom: int = 14) -> DataFrame:
    """DataFrame twin of :func:`_expand_coarse_rows` for consumers that
    need exact per-tile rows outside the subtree worker (e.g.
    :func:`tile_assignments` — whose output is inherently per-tile)."""
    schema = covered.schema

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _expand_coarse_rows(pdf, base_zoom)

    return covered.mapInPandas(gen, schema=schema)


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


def _build_one_tile(group: pd.DataFrame, z: int, x: int, y: int,
                    cfg: Config, geom_in=None,
                    clip_out: dict | None = None) -> bytes | None:
    """All features already known to touch (z,x,y) -> MVT tile bytes.

    Clip-pyramid reuse (reference include/clip_cache.h:21-37): when
    ``geom_in`` is given, geom_in((feature_id, layer)) may return the
    feature's geometry already clipped to the PARENT tile's box (a
    superset of this tile's box+margin) — clipping proceeds from that
    much smaller input instead of the original geometry.  When
    ``clip_out`` is given, this tile's pre-simplify clip is stored under
    the same key for the four child tiles to consume."""
    minlon, minlatp, maxlon, maxlatp = _tile_bbox(z, x, y)
    minlat = float(P.latp2lat(minlatp))
    maxlat = float(P.latp2lat(maxlatp))
    builders: dict[str, M.LayerBuilder] = {}

    # z-order sort within layer (reference src/tile_sorting.cpp:76-96)
    for layer_name in cfg.layer_order():
        sub = group[group["_target"] == layer_name]
        if len(sub) == 0:
            continue
        ld0 = cfg.layers.get(layer_name, LayerDef(layer_name))
        asc = ld0.z_order_ascending
        sub = sub.sort_values(
            ["zorder", "kind", "feature_id"],
            ascending=[asc, True, True], kind="mergesort")
        # zoom-visibility filter BEFORE feature_limit truncation (reference
        # filters the per-tile object list by zoom before featureLimit) —
        # invisible features must not consume limit slots
        vis = np.fromiter(
            ((cfg.layers.get(sub["layer"].iloc[i], ld0).minzoom <= z
              <= cfg.layers.get(sub["layer"].iloc[i], ld0).maxzoom)
             and sub["minzoom"].iloc[i] <= z
             for i in range(len(sub))), dtype=bool, count=len(sub))
        sub = sub[vis]
        if len(sub) == 0:
            continue
        if ld0.feature_limit > 0 and (ld0.feature_limit_below <= 0
                                      or z < ld0.feature_limit_below):
            sub = sub.iloc[: ld0.feature_limit]

        lb = builders.setdefault(
            layer_name, M.LayerBuilder(layer_name, extent=cfg.extent))

        # combine compatible features (same attrs+kind), reference
        # tile_worker.cpp:323-404
        tol_cache: dict[str, float] = {}
        point_groups: dict = {}
        line_groups: dict = {}
        poly_groups: dict = {}
        for i in range(len(sub)):
            row = sub.iloc[i]
            ld = cfg.layers.get(row["layer"], ld0)
            if not (ld.minzoom <= z <= ld.maxzoom):
                continue
            if row["minzoom"] > z:
                continue
            attrs = dict(row["attrs"]) if row["attrs"] is not None else {}
            if ld.attr_minzoom:
                # attribute minzoom (reference output_object.cpp:42)
                attrs = {k: v for k, v in attrs.items()
                         if ld.attr_minzoom.get(k, 0) <= z}
            if ld.attr_types:
                attrs = {k: _coerce_attr(v, ld.attr_types.get(k))
                         for k, v in attrs.items()}
            akey = (row["kind"], tuple(sorted(attrs.items())), row["zorder"])
            coords = np.asarray(row["coords"], np.float64).reshape(-1, 2)
            kind = row["kind"]
            if kind == G.POINT:
                # multipoint-aware: keep every point (geojson can emit
                # kind=POINT with N>1 points)
                if ld.combine_points:
                    point_groups.setdefault(akey, ([], attrs, row))[0].extend(
                        coords)
                else:
                    point_groups.setdefault(
                        (akey, i), ([], attrs, row))[0].extend(coords)
            elif kind in (G.LINESTRING, G.MULTILINESTRING):
                gkey = (row["feature_id"], row["layer"])
                cached = geom_in(gkey) if geom_in is not None else None
                lines = cached if cached is not None else G.unpack_lines(
                    coords.reshape(-1),
                    np.asarray(row["ring_sizes"], np.int64))
                parts = []
                for l in lines:
                    parts.extend(G.clip_line_to_box(
                        l, minlon, minlat, maxlon, maxlat))
                if clip_out is not None:
                    clip_out[gkey] = parts
                if not parts:
                    continue
                tol = tol_cache.setdefault(
                    row["layer"], _simplify_tolerance(ld, z, _tile_mid_latp(z, y)))
                if tol > 0:
                    parts = [
                        (G.douglas_peucker(p, tol)
                         if ld.simplify_algorithm != "visvalingam"
                         else G.visvalingam(p, tol * tol))
                        for p in parts
                    ]
                if ld.combine_lines_below > 0 and z < ld.combine_lines_below:
                    line_groups.setdefault(akey, ([], attrs, row))[0].extend(
                        parts)
                else:
                    frac = [_to_tile_frac(p, z, x, y) for p in parts]
                    cmds = M.encode_line_geom(frac, cfg.extent)
                    lb.add_feature(
                        M.GEOM_LINESTRING, cmds, attrs,
                        feature_id=int(row["feature_id"])
                        if cfg.include_ids else None)
            else:  # polygon
                gkey = (row["feature_id"], row["layer"])
                cached = geom_in(gkey) if geom_in is not None else None
                mp = cached if cached is not None else G.unpack_multipolygon(
                    coords.reshape(-1),
                    np.asarray(row["ring_sizes"], np.int64),
                    np.asarray(row["poly_ring_counts"], np.int64))
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
                    row["layer"], _simplify_tolerance(ld, z, _tile_mid_latp(z, y)))
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
                        akey, ([], attrs, row))[0].append(clipped)
                    continue
                frac_mp = [
                    [_to_tile_frac(r, z, x, y) for r in poly]
                    for poly in clipped
                ]
                cmds = M.encode_polygon_geom(frac_mp, cfg.extent)
                lb.add_feature(
                    M.GEOM_POLYGON, cmds, attrs,
                    feature_id=int(row["feature_id"])
                    if cfg.include_ids else None)

        for (key, (pts, attrs, row)) in point_groups.items():
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
                feature_id=int(row["feature_id"]) if cfg.include_ids else None)
        for (key, (parts, attrs, row)) in line_groups.items():
            merged = _merge_lines(parts)
            frac = [_to_tile_frac(p, z, x, y) for p in merged]
            cmds = M.encode_line_geom(frac, cfg.extent)
            lb.add_feature(
                M.GEOM_LINESTRING, cmds, attrs,
                feature_id=int(row["feature_id"]) if cfg.include_ids else None)
        for (key, (mps, attrs, row)) in poly_groups.items():
            merged = OV.union_many(mps) if len(mps) > 1 else mps[0]
            if not merged:
                continue
            frac_mp = [
                [_to_tile_frac(r, z, x, y) for r in poly] for poly in merged
            ]
            cmds = M.encode_polygon_geom(frac_mp, cfg.extent)
            lb.add_feature(
                M.GEOM_POLYGON, cmds, attrs,
                feature_id=int(row["feature_id"]) if cfg.include_ids else None)

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
    if cfg.clip_bbox is not None:
        # prune cover rows early: exact rows at base-tile granularity,
        # coarse rows at their z6 cell's tile range
        minlon, minlat, maxlon, maxlat = cfg.clip_bbox
        m = (1 << base_zoom) - 1
        x0 = max(0, min(m, int(P.lon2tilexf(minlon, base_zoom))))
        x1 = max(0, min(m, int(P.lon2tilexf(maxlon, base_zoom))))
        y0 = max(0, min(m, int(P.lat2tileyf(maxlat, base_zoom))))
        y1 = max(0, min(m, int(P.lat2tileyf(minlat, base_zoom))))
        width = 1 << dz
        exact_ok = (F.col("bx").between(x0, x1)
                    & F.col("by").between(y0, y1))
        coarse_ok = ((F.col("bx") <= x1)
                     & (F.col("bx") + width - 1 >= x0)
                     & (F.col("by") <= y1)
                     & (F.col("by") + width - 1 >= y0))
        covered = covered.filter(
            F.when(F.col("coarse"), coarse_ok).otherwise(exact_ok)
            if "coarse" in covered.columns else exact_ok)
    with_cell = covered.withColumn(
        "_cx", F.shiftright(F.col("bx"), dz)
    ).withColumn("_cy", F.shiftright(F.col("by"), dz))

    lo = max(cfg.minzoom, CLUSTER_ZOOM)
    layer_targets = {
        name: (ld.write_to or name) for name, ld in cfg.layers.items()
    }

    def build_subtree(pdf: pd.DataFrame) -> pd.DataFrame:
        # refine coarse (large-object) rows to exact tiles, in-worker
        pdf = _expand_coarse_rows(pdf.copy(), base_zoom)
        pdf["_target"] = pdf["layer"].map(
            lambda n: layer_targets.get(n, n))
        pdf = pdf.drop_duplicates(subset=["feature_id", "layer", "bx", "by"])
        out_z, out_x, out_y, out_b = [], [], [], []
        # clip pyramid (reference include/clip_cache.h:21-37): each tile
        # caches its pre-simplify clip keyed by (feature, tile); the four
        # children at z+1 clip from the parent's clip, not the original
        prev_clips: dict = {}
        for z in range(lo, base_zoom + 1):
            shift = base_zoom - z
            tx = pdf["bx"].to_numpy() >> shift
            ty = pdf["by"].to_numpy() >> shift
            key = (tx.astype(np.int64) << 32) | ty.astype(np.int64)
            pdf["_tkey"] = key
            cur_clips: dict = {}
            for tkey, group in pdf.groupby("_tkey"):
                x = int(tkey >> 32)
                y = int(tkey & 0xFFFFFFFF)
                g = group.drop_duplicates(subset=["feature_id", "layer"])
                px, py = x >> 1, y >> 1
                geom_in = (
                    (lambda gkey, _px=px, _py=py:
                     prev_clips.get((gkey, _px, _py)))
                    if z > lo else None)
                clip_out: dict = {}
                blob = _build_one_tile(g, z, x, y, cfg,
                                       geom_in=geom_in, clip_out=clip_out)
                if z < base_zoom:
                    for gkey, geomv in clip_out.items():
                        cur_clips[(gkey, x, y)] = geomv
                if blob is not None:
                    out_z.append(z); out_x.append(x); out_y.append(y)
                    out_b.append(blob)
            prev_clips = cur_clips
        return pd.DataFrame({"z": out_z, "x": out_x, "y": out_y,
                             "tile": out_b})

    high = (
        with_cell.groupBy("_cx", "_cy")
        .applyInPandas(build_subtree, schema="z int, x int, y int, tile binary")
    )

    if cfg.minzoom >= CLUSTER_ZOOM:
        return high

    # low-zoom pass: only features visible below CLUSTER_ZOOM (per-layer
    # and per-feature minzoom), pre-deduped to z5 tile granularity — the
    # full base-zoom fanout never moves.  Each zoom is its own job grouped
    # by the tile key, so z0-5 tiles build in parallel across tiles (the
    # single z0 tile is irreducible, but its group holds only its own
    # features, not the whole planet's fanout).  Coarse (large-object)
    # rows need no expansion here: their z6-cell bx/by is exact membership
    # for every z<=6 ancestor tile.
    low_visible_layers = [
        name for name, ld in cfg.layers.items() if ld.minzoom < CLUSTER_ZOOM
    ]

    dz5 = base_zoom - (CLUSTER_ZOOM - 1)
    low_in = (
        with_cell
        .filter(F.col("layer").isin(low_visible_layers)
                if low_visible_layers else F.lit(False))
        .filter(F.col("minzoom") < CLUSTER_ZOOM)
        # dedupe to z5 granularity first: the per-(feature, z5-tile)
        # width is what z<6 tiles actually need
        .withColumn("_p5x", F.shiftright(F.col("bx"), dz5))
        .withColumn("_p5y", F.shiftright(F.col("by"), dz5))
        .dropDuplicates(["feature_id", "layer", "_p5x", "_p5y"])
        .drop("_p5x", "_p5y")
        .persist()  # read once per low zoom below, tiny after the dedup
    )

    def build_low_tile(z: int):
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            x = int(pdf["_tx"].iloc[0])
            y = int(pdf["_ty"].iloc[0])
            g = pdf.copy()
            g["_target"] = g["layer"].map(lambda n: layer_targets.get(n, n))
            g = g.drop_duplicates(subset=["feature_id", "layer"])
            blob = _build_one_tile(g, z, x, y, cfg)
            if blob is None:
                return pd.DataFrame(columns=["z", "x", "y", "tile"])
            return pd.DataFrame({"z": [z], "x": [x], "y": [y],
                                 "tile": [blob]})
        return fn

    low = None
    for z in range(cfg.minzoom, min(CLUSTER_ZOOM, base_zoom + 1)):
        shift = base_zoom - z
        part = (
            low_in
            .withColumn("_tx", F.shiftright(F.col("bx"), shift))
            .withColumn("_ty", F.shiftright(F.col("by"), shift))
            .dropDuplicates(["feature_id", "layer", "_tx", "_ty"])
            .groupBy("_tx", "_ty")
            .applyInPandas(build_low_tile(z),
                           schema="z int, x int, y int, tile binary")
        )
        low = part if low is None else low.unionByName(part)
    if low is None:
        low_in.unpersist()
        return high
    # materialize the low union now (bounded: < 4^CLUSTER_ZOOM tiles) so
    # low_in's cache can be released — a lazy return would leak the
    # persisted blocks for the whole session; the checkpoint RDD itself is
    # GC-managed by Spark's ContextCleaner once the result is dropped
    low = low.localCheckpoint(eager=True)
    low_in.unpersist()
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
