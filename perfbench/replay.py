"""Kernel replay: µs per call of the hot kernels, timed in the driver on
inputs captured from the same traced run (PBF blobs, profile features,
output tiles, input images).  Set against the span times, this splits
kernel cost from framework cost."""

from __future__ import annotations

import time

import numpy as np

MIN_S = 0.1    # repeat each kernel over its inputs for at least this long
SIMPLIFY_Z = 10  # simplify at the tolerance of a z10 pixel
CLIP_Z = 12      # clip each feature to the z12 tile of its first vertex

KERNELS = ("pbf.decode_block", "geom.covering_tiles", "geom.clip",
           "geom.simplify", "mvt.encode", "mvt.gzip", "png.decode",
           "jpeg.decode")


def _time_calls(calls: list) -> float:
    """µs per call: one warm pass, then whole passes until MIN_S."""
    if not calls:
        return 0.0
    for c in calls:
        c()
    passes, t0 = 0, time.perf_counter()
    while True:
        for c in calls:
            c()
        passes += 1
        el = time.perf_counter() - t0
        if el >= MIN_S:
            return el / (passes * len(calls)) * 1e6


def _geom_calls(features, G, P):
    cover, clip, simplify = [], [], []
    tol = 360.0 / (1 << SIMPLIFY_Z) / 256
    for kind, coords, ring_sizes, poly_counts in features:
        flat = np.asarray(coords, np.float64)
        pts = flat.reshape(-1, 2)
        x = int(np.floor(P.lon2tilexf(pts[0, 0], CLIP_Z)))
        y = int(np.floor(P.lat2tileyf(pts[0, 1], CLIP_Z)))
        box = (float(P.tilex2lon(x, CLIP_Z)), float(P.tiley2lat(y + 1, CLIP_Z)),
               float(P.tilex2lon(x + 1, CLIP_Z)), float(P.tiley2lat(y, CLIP_Z)))
        if kind == G.POINT:
            cover.append(lambda p=pts[0]: G.covering_tiles_point(
                p[0], p[1], 14))
        elif kind in (G.LINESTRING, G.MULTILINESTRING):
            lines = G.unpack_lines(flat, np.asarray(ring_sizes, np.int64))
            cover.append(lambda ls=lines: [G.covering_tiles_line(l, 14)
                                           for l in ls])
            clip.append(lambda ls=lines, b=box: [G.clip_line_to_box(l, *b)
                                                 for l in ls])
            simplify.extend(lambda l=l: G.douglas_peucker(l, tol)
                            for l in lines)
        else:
            mp = G.unpack_multipolygon(flat, np.asarray(ring_sizes, np.int64),
                                       np.asarray(poly_counts, np.int64))
            cover.append(lambda m=mp: G.covering_tiles_polygon(m, 14))
            clip.append(lambda m=mp, b=box: G.clip_multipolygon_to_box(m, *b))
            simplify.extend(lambda r=poly[0]: G.douglas_peucker(r, tol)
                            for poly in mp)
    return cover, clip, simplify


def _mvt_builders(decoded, M):
    """Fresh layer builders holding a decoded tile's features: the
    encode half of the tile builder."""
    layers = []
    for name, layer in decoded.items():
        lb = M.LayerBuilder(name, extent=layer["extent"])
        for f in layer["features"]:
            lb.add_feature(f["type"], f["cmds"], f["attrs"],
                           feature_id=f["id"])
        layers.append(lb)
    return layers


def replay(pbf_path: str | None = None, features=(), tiles=(),
           images=()) -> dict:
    """-> {"kernels.<k>.us": float, "kernels.<k>.calls": int} for every
    kernel in KERNELS; a kernel with no captured inputs reports 0."""
    from tilemaker_spark.kernels import geom as G
    from tilemaker_spark.kernels import mvt as M
    from tilemaker_spark.kernels import pbf as K
    from tilemaker_spark.kernels import png as PNG
    from tilemaker_spark.kernels import proj as P

    calls: dict[str, list] = {k: [] for k in KERNELS}
    if pbf_path is not None:
        for ref in K.scan_blobs(pbf_path):
            if ref.kind == "OSMData":
                raw = K.read_blob(pbf_path, ref)
                calls["pbf.decode_block"].append(
                    lambda r=raw: K.decode_block(r))
    (calls["geom.covering_tiles"], calls["geom.clip"],
     calls["geom.simplify"]) = _geom_calls(features, G, P)
    raw_builds = []
    for _z, _x, _y, blob in tiles:
        decoded = M.decode_tile(blob)
        calls["mvt.encode"].append(lambda d=decoded: M.build_tile(
            _mvt_builders(d, M), compress="none"))
        raw_builds.append(_mvt_builders(decoded, M))
    for data, fmt in images:
        key = "png.decode" if fmt == "png" else "jpeg.decode"
        calls[key].append(lambda d=data, f=fmt: PNG.decode_image(d, f))

    out = {}
    for k in KERNELS:
        if k == "mvt.gzip":
            continue
        out[f"kernels.{k}.us"] = _time_calls(calls[k])
        out[f"kernels.{k}.calls"] = len(calls[k])
    # gzip share of build_tile: compress="gzip" minus compress="none" on
    # the same prepared layer builders
    gz = _time_calls([lambda ls=ls: M.build_tile(ls, compress="gzip")
                      for ls in raw_builds])
    raw = _time_calls([lambda ls=ls: M.build_tile(ls, compress="none")
                       for ls in raw_builds])
    out["kernels.mvt.gzip.us"] = gz - raw if raw_builds else 0.0
    out["kernels.mvt.gzip.calls"] = len(raw_builds)
    return out
