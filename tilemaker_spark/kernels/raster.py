"""Raster tile kernels: vector -> raster rendering and raster -> vector
tracing, all numpy (no image libraries in this container).

The BASELINE north star calls for "raster<->vector tile assembly"
alongside the MVT pipeline; the reference itself emits vector tiles only
(tilemaker src/tile_worker.cpp), so this module is the graft's raster
half, built on the repo's own PNG codec (kernels/png.py):

- vector -> raster: per-tile scanline polygon fill (even-odd rule, the
  same parity convention as the PIP kernels), DDA line stroking, and
  square point stamps onto an RGB uint8 canvas; encoded with encode_png.
- raster -> vector: boundary tracing of a binary mask into closed rings
  (directed cell-edge chaining, i.e. marching-squares contours without
  mid-cell interpolation), so rendered tiles can be vectorized back and
  checked against the source geometry by area.

Everything here is per-tile work executed inside applyInArrow groups
(operators/raster.py); no kernel touches Spark.
"""

from __future__ import annotations

import numpy as np

from . import geom as G

# deterministic per-layer colors (index = stable hash of layer name)
_PALETTE = np.array([
    [31, 119, 180], [255, 127, 14], [44, 160, 44], [214, 39, 40],
    [148, 103, 189], [140, 86, 75], [227, 119, 194], [127, 127, 127],
    [188, 189, 34], [23, 190, 207],
], np.uint8)

BACKGROUND = np.array([0, 0, 0], np.uint8)


def layer_color(layer: str) -> np.ndarray:
    h = 0
    for ch in layer.encode():
        h = (h * 131 + ch) & 0x7FFFFFFF
    return _PALETTE[h % len(_PALETTE)]


def fill_polygon(canvas: np.ndarray, mp, color) -> None:
    """Even-odd scanline fill of a multipolygon given in PIXEL coords.

    mp: list of polygons, each a list of rings ((k, 2) float arrays,
    closed).  All rings of all polygons contribute crossings to one
    even-odd parity pass, which makes holes subtract automatically —
    the raster twin of the PIP kernels' parity rule.
    """
    h, w, _ = canvas.shape
    edges = []
    for poly in mp:
        for ring in poly:
            r = np.asarray(ring, np.float64)
            if len(r) >= 2:
                edges.append(np.column_stack([r[:-1], r[1:]]))
    if not edges:
        return
    e = np.concatenate(edges)          # (m, 4): x0 y0 x1 y1
    x0, y0, x1, y1 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    keep = y0 != y1                    # horizontal edges never cross
    x0, y0, x1, y1 = x0[keep], y0[keep], x1[keep], y1[keep]
    if not len(x0):
        return
    ylo = np.minimum(y0, y1)
    yhi = np.maximum(y0, y1)
    row0 = max(0, int(np.floor(ylo.min() - 0.5)))
    row1 = min(h - 1, int(np.ceil(yhi.max())))
    inv_dy = 1.0 / (y1 - y0)
    for row in range(row0, row1 + 1):
        yc = row + 0.5                 # sample at pixel centers
        m = (y0 <= yc) != (y1 <= yc)   # half-open: no double-count at nodes
        if not m.any():
            continue
        xs = x0[m] + (yc - y0[m]) * (x1[m] - x0[m]) * inv_dy[m]
        xs.sort()
        for i in range(0, len(xs) - 1, 2):
            a = max(0, int(np.ceil(xs[i] - 0.5)))
            b = min(w - 1, int(np.floor(xs[i + 1] - 0.5)))
            if a <= b:
                canvas[row, a:b + 1] = color


def stroke_line(canvas: np.ndarray, coords: np.ndarray, color,
                width: int = 1) -> None:
    """DDA-stroke a polyline given in PIXEL coords (one sample per unit
    of the dominant axis per segment, so strokes have no gaps)."""
    h, w, _ = canvas.shape
    p = np.asarray(coords, np.float64)
    if len(p) < 2:
        return
    half = max(0, width // 2)
    for i in range(len(p) - 1):
        (ax, ay), (bx, by) = p[i], p[i + 1]
        n = int(max(abs(bx - ax), abs(by - ay))) + 1
        t = np.linspace(0.0, 1.0, n + 1)
        xs = np.round(ax + t * (bx - ax)).astype(np.int64)
        ys = np.round(ay + t * (by - ay)).astype(np.int64)
        for dx in range(-half, half + 1):
            for dy in range(-half, half + 1):
                xi = np.clip(xs + dx, 0, w - 1)
                yi = np.clip(ys + dy, 0, h - 1)
                canvas[yi, xi] = color


def stamp_points(canvas: np.ndarray, pts: np.ndarray, color,
                 radius: int = 1) -> None:
    """Square (2r+1)-pixel stamps at each PIXEL-coord point."""
    h, w, _ = canvas.shape
    p = np.asarray(pts, np.float64).reshape(-1, 2)
    xs = np.round(p[:, 0]).astype(np.int64)
    ys = np.round(p[:, 1]).astype(np.int64)
    for dx in range(-radius, radius + 1):
        for dy in range(-radius, radius + 1):
            xi = np.clip(xs + dx, 0, w - 1)
            yi = np.clip(ys + dy, 0, h - 1)
            canvas[yi, xi] = color


def render_features(rows, size: int = 256) -> np.ndarray:
    """Render one tile's features (already in tile-local PIXEL coords)
    onto a fresh (size, size, 3) canvas.  rows: iterable of
    (layer, kind, mp_or_coords) where kind follows the feature model
    (0 point, 1 line, 3 polygon); polygons first so lines/points stay
    visible on top (the reference's z-order intent, tile_worker.cpp)."""
    canvas = np.zeros((size, size, 3), np.uint8)
    canvas[:] = BACKGROUND
    rows = sorted(rows, key=lambda r: -r[1])      # 3 polys, 1 lines, 0 pts
    for layer, kind, geom_obj in rows:
        color = layer_color(layer)
        if kind == 3:
            fill_polygon(canvas, geom_obj, color)
        elif kind == 1:
            for part in geom_obj:
                stroke_line(canvas, part, color)
        else:
            stamp_points(canvas, geom_obj, color)
    return canvas


def trace_mask(mask: np.ndarray):
    """Binary (h, w) mask -> list of closed rings in pixel coords
    (marching-squares-style boundary chaining on cell edges).

    Every boundary edge between a filled and an empty cell (or the
    canvas border) is emitted as a directed unit segment with the filled
    cell on its LEFT; chaining head-to-tail yields closed rings — outer
    rings CCW in array coords, hole rings CW, matching the even-odd
    convention of fill_polygon so trace(fill(x)) ~= x.
    """
    m = np.asarray(mask, bool)
    h, w = m.shape
    pad = np.zeros((h + 2, w + 2), bool)
    pad[1:-1, 1:-1] = m
    # All four directed boundary-edge sets in four boolean-diff array
    # ops (filled cell with an empty neighbor on that side) — no
    # per-pixel Python; only the O(boundary) chain walk below stays
    # scalar.  Edge conventions (interior on the LEFT) are unchanged:
    #   top edge leftwards, bottom rightwards, left downwards, right
    #   upwards, corners in unpadded pixel coords.
    core = pad[1:-1, 1:-1]
    starts_x, starts_y, ends_x, ends_y = [], [], [], []
    for nbr, sx, sy, ex, ey in (
        (pad[:-2, 1:-1], 1, 0, 0, 0),    # top:    (px+1,py) -> (px,py)
        (pad[2:, 1:-1], 0, 1, 1, 1),     # bottom: (px,py+1) -> (px+1,py+1)
        (pad[1:-1, :-2], 0, 0, 0, 1),    # left:   (px,py)   -> (px,py+1)
        (pad[1:-1, 2:], 1, 1, 1, 0),     # right:  (px+1,py+1)->(px+1,py)
    ):
        ys, xs = np.nonzero(core & ~nbr)
        starts_x.append(xs + sx)
        starts_y.append(ys + sy)
        ends_x.append(xs + ex)
        ends_y.append(ys + ey)
    # corner -> list of outgoing edge ends: diagonal-touching cells give a
    # corner TWO outgoing edges, so a plain dict would break chains there
    segs: dict[tuple, list] = {}
    for sx, sy, ex, ey in zip(
            np.concatenate(starts_x).tolist(),
            np.concatenate(starts_y).tolist(),
            np.concatenate(ends_x).tolist(),
            np.concatenate(ends_y).tolist()):
        segs.setdefault((sx, sy), []).append((ex, ey))
    def pop_edge(corner, incoming):
        outs = segs.get(corner)
        if not outs:
            return None
        if len(outs) > 1 and incoming is not None:
            # prefer the left turn (cross product with incoming direction)
            # so self-touching rings stay separate loops
            dx, dy = corner[0] - incoming[0], corner[1] - incoming[1]
            outs.sort(key=lambda e: dx * (e[1] - corner[1])
                      - dy * (e[0] - corner[0]))
        nxt = outs.pop(0)
        if not outs:
            del segs[corner]
        return nxt

    rings = []
    while segs:
        start = next(iter(segs))
        ring = [start]
        prev = None
        cur = start
        while True:
            nxt = pop_edge(cur, prev)
            if nxt is None or nxt == start:
                break
            ring.append(nxt)
            prev, cur = cur, nxt
        if len(ring) >= 4:
            ring.append(ring[0])
            rings.append(np.asarray(ring, np.float64))
    return rings


def rings_to_multipolygon(rings):
    """Group traced rings into polygons: negative-area rings (holes in
    array coords, given trace_mask's winding) are attached to the
    smallest enclosing outer ring, tested even with a single outer.  The
    multipolygon assembly operator (operators/assembly.assign_holes)
    differs: it takes the first containing outer and skips the test when
    there is only one."""
    outers, holes = [], []
    for r in rings:
        a = G.signed_ring_area_planar(r)
        # y grows DOWN in pixel coords, so trace_mask's interior-on-left
        # outer rings come out with NEGATIVE shoelace area
        (outers if a < 0 else holes).append((abs(a), r))
    outers.sort(key=lambda t: t[0])
    polys = [[r] for _, r in outers]
    for ha, hr in holes:
        pt = hr[0]
        for i, (oa, orr) in enumerate(outers):
            if oa > ha and G.points_in_multipolygon(
                    np.array([pt[0]]), np.array([pt[1]]),
                    [[orr]])[0]:
                polys[i].append(hr)
                break
    return polys
