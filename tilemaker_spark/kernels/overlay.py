"""Polygon boolean overlay (union / intersection / difference /
make_valid), pure numpy — no GEOS in this environment.

Role parity: the reference engine unions same-attribute polygons per tile
(/root/reference/src/tile_worker.cpp:393-404 via union_many,
src/geom.cpp:232-290, boost::geometry::union_) and repairs invalid
geometry (src/geom.cpp:140-224 make_valid fallback chain).  This module
re-implements those *operations* from first principles with the classic
"overlay by classification" construction (the textbook arrangement
overlay; see e.g. de Berg et al., Computational Geometry ch. 2 — public
algorithm, not ported code):

1. snap all input rings to a fine integer grid (exact predicates);
2. split every segment at every segment-segment intersection
   (brute-force pairwise with numpy bbox prefilter — per-tile groups are
   small, O(n^2) on a few thousand segments beats a sweep's complexity);
3. collapse coincident segments and classify each surviving undirected
   edge by evaluating the boolean predicate just left and right of its
   midpoint (even-odd insideness per input feature);
4. keep edges where the predicate flips, orient interior-left, and
   stitch faces with the leftmost-turn rule; positive-area rings are
   outers, negative are holes, holes are assigned by containment.

Coordinates are abstract 2D (y-up, CCW-positive).  Inputs/outputs use
the repo's multipolygon shape: list of polygons, each a list of (N, 2)
float rings, ring 0 outer.
"""

from __future__ import annotations

import numpy as np

from . import geom as G

# default integer grid: fine enough that snapping is far below output
# resolution (tiles encode at 4096; callers pass tile-sized coords)
DEFAULT_SCALE = 1 << 20


# ---------------------------------------------------------------------------
# segment collection and exact splitting
# ---------------------------------------------------------------------------

def _rings_to_segments(mps: list, scale: float, lo: np.ndarray):
    """All ring edges of all input features as int64 segments.
    Returns (segs (S,4) int64, feat_id (S,) int32)."""
    seg_list, fid_list = [], []
    for fi, mp in enumerate(mps):
        for poly in mp:
            for ring in poly:
                r = np.asarray(ring, np.float64)
                if len(r) >= 2 and (r[0] == r[-1]).all():
                    r = r[:-1]
                if len(r) < 3:
                    continue
                g = np.round((r - lo) * scale).astype(np.int64)
                # drop consecutive duplicates after snapping
                keep = np.ones(len(g), bool)
                keep[1:] = (g[1:] != g[:-1]).any(axis=1)
                g = g[keep]
                if len(g) < 3:
                    continue
                a = g
                b = np.roll(g, -1, axis=0)
                s = np.column_stack([a, b])
                s = s[(s[:, 0] != s[:, 2]) | (s[:, 1] != s[:, 3])]
                seg_list.append(s)
                fid_list.append(np.full(len(s), fi, np.int32))
    if not seg_list:
        return (np.zeros((0, 4), np.int64), np.zeros(0, np.int32))
    return np.concatenate(seg_list), np.concatenate(fid_list)


def _split_segments(segs: np.ndarray, fids: np.ndarray):
    """Split all segments at all pairwise intersections (proper crossings,
    T-junctions, and collinear overlaps).  Intersection points are rounded
    to the integer grid; iterate to a fixpoint (rounding can introduce new
    near-crossings, which converge in practice in <=3 passes)."""
    for _ in range(3):
        segs, fids, changed = _split_pass(segs, fids)
        if not changed:
            break
    return segs, fids


def _split_pass(segs: np.ndarray, fids: np.ndarray):
    n = len(segs)
    if n == 0:
        return segs, fids, False
    ax, ay, bx, by = (segs[:, 0].astype(np.float64),
                      segs[:, 1].astype(np.float64),
                      segs[:, 2].astype(np.float64),
                      segs[:, 3].astype(np.float64))
    minx, maxx = np.minimum(ax, bx), np.maximum(ax, bx)
    miny, maxy = np.minimum(ay, by), np.maximum(ay, by)
    # bbox-overlap candidate pairs (i < j)
    ii, jj = np.where(
        (minx[:, None] <= maxx[None, :]) & (maxx[:, None] >= minx[None, :])
        & (miny[:, None] <= maxy[None, :]) & (maxy[:, None] >= miny[None, :])
    )
    m = ii < jj
    ii, jj = ii[m], jj[m]
    if len(ii) == 0:
        return segs, fids, False

    # exact integer orientation tests (int64 products stay in range:
    # coords <= 2^20, cross products <= 2^42)
    p1, p2 = segs[ii, :2], segs[ii, 2:]
    p3, p4 = segs[jj, :2], segs[jj, 2:]

    def cross(o, a, b):
        return ((a[:, 0] - o[:, 0]) * (b[:, 1] - o[:, 1])
                - (a[:, 1] - o[:, 1]) * (b[:, 0] - o[:, 0]))

    d1 = cross(p3, p4, p1)
    d2 = cross(p3, p4, p2)
    d3 = cross(p1, p2, p3)
    d4 = cross(p1, p2, p4)

    cuts: dict[int, set[tuple[int, int]]] = {}

    def add_cut(seg_ix, pt):
        a = segs[seg_ix]
        if (pt[0] == a[0] and pt[1] == a[1]) or (
                pt[0] == a[2] and pt[1] == a[3]):
            return
        cuts.setdefault(seg_ix, set()).add((int(pt[0]), int(pt[1])))

    # proper / touching crossings (non-collinear)
    crossing = (((d1 > 0) != (d2 > 0)) | (d1 == 0) | (d2 == 0)) & \
               (((d3 > 0) != (d4 > 0)) | (d3 == 0) | (d4 == 0)) & \
               ~((d1 == 0) & (d2 == 0))
    for k in np.nonzero(crossing)[0]:
        i, j = int(ii[k]), int(jj[k])
        x1, y1, x2, y2 = segs[i]
        x3, y3, x4, y4 = segs[j]
        den = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
        if den == 0:
            continue
        t = ((x1 - x3) * (y3 - y4) - (y1 - y3) * (x3 - x4)) / den
        if t < 0 or t > 1:
            continue
        u = ((x1 - x3) * (y1 - y2) - (y1 - y3) * (x1 - x2)) / den
        if u < 0 or u > 1:
            continue
        px = int(round(x1 + t * (x2 - x1)))
        py = int(round(y1 + t * (y2 - y1)))
        add_cut(i, (px, py))
        add_cut(j, (px, py))

    # collinear overlaps: cut each at the other's interior endpoints
    collinear = (d1 == 0) & (d2 == 0)
    for k in np.nonzero(collinear)[0]:
        i, j = int(ii[k]), int(jj[k])
        si, sj = segs[i], segs[j]
        for (sa, sb) in ((i, sj), (j, si)):
            a = segs[sa]
            for pt in ((sb[0], sb[1]), (sb[2], sb[3])):
                if _on_segment_int(a, pt):
                    add_cut(sa, pt)

    if not cuts:
        return segs, fids, False

    out_segs, out_fids = [], []
    for i in range(n):
        a = segs[i]
        if i not in cuts:
            out_segs.append(a)
            out_fids.append(fids[i])
            continue
        pts = [(a[0], a[1])] + sorted(
            cuts[i],
            key=lambda p: (p[0] - a[0]) ** 2 + (p[1] - a[1]) ** 2,
        ) + [(a[2], a[3])]
        for q in range(len(pts) - 1):
            if pts[q] != pts[q + 1]:
                out_segs.append([pts[q][0], pts[q][1],
                                 pts[q + 1][0], pts[q + 1][1]])
                out_fids.append(fids[i])
    return (np.asarray(out_segs, np.int64),
            np.asarray(out_fids, np.int32), True)


def _on_segment_int(seg, pt) -> bool:
    """pt strictly inside seg (exact int; assumes collinear)."""
    x1, y1, x2, y2 = int(seg[0]), int(seg[1]), int(seg[2]), int(seg[3])
    px, py = int(pt[0]), int(pt[1])
    if (px, py) in ((x1, y1), (x2, y2)):
        return False
    if (x2 - x1) * (py - y1) != (y2 - y1) * (px - x1):
        return False
    return (min(x1, x2) <= px <= max(x1, x2)
            and min(y1, y2) <= py <= max(y1, y2))


# ---------------------------------------------------------------------------
# classification
# ---------------------------------------------------------------------------

def _even_odd_matrix(qx: np.ndarray, qy: np.ndarray, segs: np.ndarray,
                     fids: np.ndarray, n_feats: int) -> np.ndarray:
    """(Q, n_feats) even-odd insideness of query points per input feature,
    via vectorized crossing counts over the feature's original segments."""
    Q = len(qx)
    inside = np.zeros((Q, n_feats), bool)
    x1 = segs[:, 0].astype(np.float64)
    y1 = segs[:, 1].astype(np.float64)
    x2 = segs[:, 2].astype(np.float64)
    y2 = segs[:, 3].astype(np.float64)
    for f in range(n_feats):
        m = fids == f
        if not m.any():
            continue
        sx1, sy1, sx2, sy2 = x1[m], y1[m], x2[m], y2[m]
        # standard upward-crossing parity (half-open rule avoids vertex
        # double counting): edge crosses the horizontal ray at qy if one
        # endpoint is strictly below and the other >=.
        cond = ((sy1[None, :] > qy[:, None]) != (sy2[None, :] > qy[:, None]))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = sx1[None, :] + (qy[:, None] - sy1[None, :]) / (
                sy2[None, :] - sy1[None, :]) * (sx2[None, :] - sx1[None, :])
        crosses = cond & (xint > qx[:, None])
        inside[:, f] = (crosses.sum(axis=1) % 2).astype(bool)
    return inside


# ---------------------------------------------------------------------------
# stitching
# ---------------------------------------------------------------------------

def _stitch(directed: list[tuple]) -> list[np.ndarray]:
    """Directed edges (interior on the left) -> closed rings via the
    leftmost-turn rule (keeps distinct faces separate at tangent nodes)."""
    from collections import defaultdict
    out_map: dict[tuple, list[int]] = defaultdict(list)
    for e, (a, b) in enumerate(directed):
        out_map[a].append(e)
    used = [False] * len(directed)
    rings = []
    for start in range(len(directed)):
        if used[start]:
            continue
        ring = []
        e = start
        closed = False
        while True:
            used[e] = True
            a, b = directed[e]
            ring.append(a)
            if b == directed[start][0]:
                closed = True
                break
            outs = [k for k in out_map[b] if not used[k]]
            if not outs:
                break
            # choose the leftmost turn relative to incoming direction
            # (a U-turn, ang == pi, is demoted to last resort)
            vin = (b[0] - a[0], b[1] - a[1])
            best, best_key = None, None
            for k in outs:
                c = directed[k][1]
                vout = (c[0] - b[0], c[1] - b[1])
                crossv = vin[0] * vout[1] - vin[1] * vout[0]
                dotv = vin[0] * vout[0] + vin[1] * vout[1]
                ang = np.arctan2(crossv, dotv)  # (-pi, pi], left turn > 0
                key = (ang >= np.pi - 1e-12, -ang)
                if best_key is None or key < best_key:
                    best, best_key = k, key
            e = best
        if closed and len(ring) >= 3:
            rings.append(np.asarray(ring, np.float64))
    return rings


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def _overlay(mps: list, predicate, scale: float | None = None) -> list:
    """Core overlay: input features -> multipolygon of the region where
    ``predicate(inside_vector) -> bool`` holds (inside_vector is the
    per-feature even-odd insideness).  Returns packed-rings multipolygon
    (list of [outer, holes...]), coordinates in the input frame."""
    all_pts = [np.asarray(r, np.float64)
               for mp in mps for poly in mp for r in poly]
    if not all_pts:
        return []
    stack = np.concatenate(all_pts)
    lo = stack.min(axis=0)
    span = float(max((stack.max(axis=0) - lo).max(), 1e-12))
    if scale is None:
        scale = DEFAULT_SCALE / span

    segs, fids = _rings_to_segments(mps, scale, lo)
    if len(segs) == 0:
        return []
    segs, fids = _split_segments(segs, fids)

    # collapse coincident segments (same endpoints either direction):
    # canonicalize by lexicographic POINT order (not elementwise min,
    # which would fabricate endpoints)
    a, b = segs[:, :2], segs[:, 2:]
    swap = (a[:, 0] > b[:, 0]) | ((a[:, 0] == b[:, 0])
                                  & (a[:, 1] > b[:, 1]))
    keys = np.where(swap[:, None], np.column_stack([b, a]),
                    np.column_stack([a, b]))
    uniq = np.unique(keys, axis=0)

    n_feats = len(mps)
    ua = uniq[:, :2].astype(np.float64)
    ub = uniq[:, 2:].astype(np.float64)
    mid = (ua + ub) / 2.0
    d = ub - ua
    ln = np.sqrt((d * d).sum(axis=1))
    ln[ln == 0] = 1.0
    # left normal of a->b in y-up: (-dy, dx)
    nx = -d[:, 1] / ln
    ny = d[:, 0] / ln
    eps = 0.26  # quarter grid unit: below snap resolution
    lqx, lqy = mid[:, 0] + nx * eps, mid[:, 1] + ny * eps
    rqx, rqy = mid[:, 0] - nx * eps, mid[:, 1] - ny * eps

    ins_l = _even_odd_matrix(lqx, lqy, segs, fids, n_feats)
    ins_r = _even_odd_matrix(rqx, rqy, segs, fids, n_feats)
    res_l = np.asarray([predicate(v) for v in ins_l], bool)
    res_r = np.asarray([predicate(v) for v in ins_r], bool)
    keep = res_l != res_r
    if not keep.any():
        return []

    directed = []
    for q in np.nonzero(keep)[0]:
        a = (int(uniq[q, 0]), int(uniq[q, 1]))
        b = (int(uniq[q, 2]), int(uniq[q, 3]))
        # orient so the result interior is on the left; the classification
        # above used (a=min, b=max) ordering
        if res_l[q]:
            directed.append((a, b))
        else:
            directed.append((b, a))

    rings = _stitch(directed)
    outers, holes = [], []
    for r in rings:
        a2 = 2.0 * G.signed_ring_area_planar(r)
        if abs(a2) < 1e-9:
            continue
        rr = np.vstack([r, r[:1]])
        if a2 > 0:
            outers.append(rr)
        else:
            holes.append(rr)

    # assign holes to the smallest containing outer
    polys = [[o] for o in outers]
    if holes and outers:
        areas = [abs(G.signed_ring_area_planar(o)) for o in outers]
        order = np.argsort(areas)
        for h in holes:
            hx, hy = h[0, 0], h[0, 1]
            # a hole vertex lies on the hole ring; probe slightly inside
            # the hole's bbox center as fallback, else first-vertex test
            placed = False
            for oi in order:
                o = outers[oi]
                if _point_in_ring(hx, hy, o) or _ring_in_ring(h, o):
                    polys[oi].append(h)
                    placed = True
                    break
            if not placed and polys:
                polys[int(order[0])].append(h)

    # rescale back to the input frame
    out = []
    for poly in polys:
        out.append([p / scale + lo for p in poly])
    return out


def _point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
    return bool((cond & (xint > px)).sum() % 2)


def _ring_in_ring(inner: np.ndarray, outer: np.ndarray) -> bool:
    """True if some inner vertex is strictly inside outer (tangent-safe:
    try several vertices)."""
    for i in range(0, len(inner) - 1, max(1, (len(inner) - 1) // 5)):
        if _point_in_ring(inner[i, 0], inner[i, 1], outer):
            return True
    return False


def union_many(mps: list) -> list:
    """Union of N multipolygons (reference union_many semantics,
    src/geom.cpp:232-290): region covered by at least one input."""
    mps = [mp for mp in mps if mp]
    if not mps:
        return []
    if len(mps) == 1:
        return mps[0]
    return _overlay(mps, lambda v: bool(v.any()))


def intersection(mp_a: list, mp_b: list) -> list:
    """Region covered by both inputs (reference AreaIntersecting support,
    src/osm_lua_processing.cpp:441-485)."""
    if not mp_a or not mp_b:
        return []
    return _overlay([mp_a, mp_b], lambda v: bool(v[0] and v[1]))


def difference(mp_a: list, mp_b: list) -> list:
    """Region covered by a but not b."""
    if not mp_a:
        return []
    if not mp_b:
        return mp_a
    return _overlay([mp_a, mp_b], lambda v: bool(v[0] and not v[1]))


def make_valid(mp: list) -> list:
    """Resolve self-intersections / bowties / misoriented rings into a
    valid multipolygon (even-odd fill — the region an even-odd renderer
    would paint).  Reference role: make_valid fallback chain,
    src/geom.cpp:140-224."""
    if not mp:
        return []
    return _overlay([mp], lambda v: bool(v[0]))


def area_planar(mp: list) -> float:
    """Planar area of a multipolygon (outers minus holes, orientation
    agnostic)."""
    tot = 0.0
    for poly in mp:
        for ri, ring in enumerate(poly):
            r = np.asarray(ring, np.float64)
            if len(r) >= 2 and (r[0] == r[-1]).all():
                pass
            else:
                r = np.vstack([r, r[:1]])
            a = abs(G.signed_ring_area_planar(r))
            tot += a if ri == 0 else -a
    return tot
