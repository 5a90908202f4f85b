"""Vectorized geometry kernels (numpy only; no GEOS in this environment).

Geometry representation used across the engine ("packed rings"):

* a **ring / line** is an (N, 2) float64 array of (lon, lat) — or
  (x, y) in whatever plane the caller works in;
* a **polygon** is a list of rings, ring 0 = outer, rest = inners;
* a **multipolygon** is a list of polygons.

In DataFrames the same shapes are stored columnar as
``coords: array<double>`` (flat x0,y0,x1,y1,...) plus
``ring_sizes: array<int>`` and ``poly_ring_counts: array<int>`` — see
:func:`pack_multipolygon`; :func:`packed_views` reads them out of an Arrow
batch as per-row views and :func:`unpack` turns one row back into geometry
by its ``kind``.  :func:`cover_batch` covers a whole batch with tiles at
once from the flat buffers :func:`packed_flat` reads; :func:`covering_tiles`
is its one-row form.

Algorithms mirror the reference engine's semantics (cited per-function)
without porting its code: Sutherland–Hodgman box clipping with escalation
(reference src/geom.cpp:297-383), Douglas–Peucker and Visvalingam–Whyatt
simplification (src/geom.cpp:119-124, src/visvalingam.cpp), spherical area
(boost spherical strategy at R=6371000, src/osm_lua_processing.cpp:529-578,
here via the Chamberlain–Duquette discretization), and the
supercover-raster + per-column fill tile assignment
(src/coordinates_geom.cpp:112-199, src/coordinates.cpp:52-67).
"""

from __future__ import annotations

import numpy as np

from .proj import lat2tileyf, lon2tilexf

# geometry kind codes, matching reference include/output_object.h:13
POINT, LINESTRING, MULTILINESTRING, POLYGON = 0, 1, 2, 3


# ---------------------------------------------------------------------------
# Packing <-> DataFrame columns
# ---------------------------------------------------------------------------

def pack_multipolygon(mp):
    """[[ring(N,2), ...], ...] -> (flat coords, ring_sizes, poly_ring_counts)."""
    coords, ring_sizes, poly_counts = [], [], []
    for poly in mp:
        poly_counts.append(len(poly))
        for ring in poly:
            ring = np.asarray(ring, dtype=np.float64)
            ring_sizes.append(len(ring))
            coords.append(ring.reshape(-1))
    flat = np.concatenate(coords) if coords else np.zeros(0)
    return flat, np.asarray(ring_sizes, np.int32), np.asarray(poly_counts, np.int32)


def _runs(seq, sizes) -> list:
    """``seq`` cut into consecutive runs of the given ``sizes``."""
    out, off = [], 0
    for n in np.asarray(sizes, np.int64).tolist():
        out.append(seq[off:off + n])
        off += n
    return out


def unpack_multipolygon(flat, ring_sizes, poly_ring_counts):
    """Inverse of :func:`pack_multipolygon`."""
    return _runs(unpack_lines(flat, ring_sizes), poly_ring_counts)


def unpack_lines(flat, sizes):
    """(flat coords, line_sizes) -> [line(N,2), ...]."""
    return _runs(np.asarray(flat, np.float64).reshape(-1, 2), sizes)


PACKED = ("coords", "ring_sizes", "poly_ring_counts")  # the list columns


def _list_buffers(batch, name) -> tuple:
    """(values, offsets) numpy views of an Arrow list column."""
    col = batch.column(name)
    if hasattr(col, "chunks"):  # a Table's ChunkedArray
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    return col.values.to_numpy(zero_copy_only=False), col.offsets.to_numpy()


def packed_views(batch, columns=PACKED):
    """Per-row read-only numpy views of an Arrow RecordBatch's or Table's
    list ``columns``, one list per column; zipped, they are the rows
    :func:`unpack` takes.  Copies only a Table column of several chunks."""
    out = []
    for name in columns:
        vals, off = _list_buffers(batch, name)
        off = off.tolist()
        out.append([vals[a:b] for a, b in zip(off[:-1], off[1:])])
    return out


def unpack(kind, coords, ring_sizes, poly_ring_counts):
    """One packed row -> geometry by ``kind``: an (n, 2) point array for
    POINT, a list of (n, 2) lines for LINESTRING / MULTILINESTRING, a
    multipolygon for POLYGON."""
    if kind == POINT:
        return np.asarray(coords, np.float64).reshape(-1, 2)
    if kind in (LINESTRING, MULTILINESTRING):
        return unpack_lines(coords, ring_sizes)
    return unpack_multipolygon(coords, ring_sizes, poly_ring_counts)


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------

def points_in_ring(px, py, ring):
    """Vectorized even-odd ray cast: are points inside a single ring?

    Half-open edge convention (a point exactly on a horizontal edge counts
    on one side only) — consistent, deterministic, matches the usual
    crossing-number semantics of boost::geometry::within for interior
    points.  px, py: (M,) arrays. ring: (N,2). Returns bool (M,).
    """
    px = np.asarray(px, np.float64)[:, None]          # (M,1)
    py = np.asarray(py, np.float64)[:, None]
    x1 = ring[:-1, 0][None, :]                         # (1,N-1) edges
    y1 = ring[:-1, 1][None, :]
    x2 = ring[1:, 0][None, :]
    y2 = ring[1:, 1][None, :]
    crosses = ((y1 > py) != (y2 > py)) & (
        px < (x2 - x1) * (py - y1) / np.where(y2 == y1, np.inf, y2 - y1) + x1
    )
    return np.bitwise_xor.reduce(crosses, axis=1)


def points_in_polygon(px, py, poly):
    """Points inside polygon (outer ring minus holes), vectorized over points."""
    inside = points_in_ring(px, py, poly[0])
    for hole in poly[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def points_in_multipolygon(px, py, mp):
    out = np.zeros(len(np.atleast_1d(px)), dtype=bool)
    for poly in mp:
        out |= points_in_polygon(px, py, poly)
    return out


def ring_bbox(ring):
    return ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()


def signed_ring_area_planar(ring):
    """Shoelace area (planar); positive = counter-clockwise."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)


# ---------------------------------------------------------------------------
# Clipping
# ---------------------------------------------------------------------------

def clip_ring_to_box(ring, minx, miny, maxx, maxy):
    """Sutherland–Hodgman clip of one ring against an axis box.

    Mirrors the reference's fast_clip role (src/geom.cpp:297-383, a lineclip
    port): output may need spike removal for degenerate tangencies, which
    :func:`remove_spikes` handles.  Returns (N,2) array (possibly empty).
    """
    pts = np.asarray(ring, np.float64)
    if len(pts) and (pts[0] != pts[-1]).any():
        pts = np.vstack([pts, pts[:1]])
    pts = pts[:-1] if len(pts) else pts  # work open; re-close at the end

    def clip_edge(p, inside, intersect):
        if len(p) == 0:
            return p
        keep = inside(p)
        nxt = np.roll(np.arange(len(p)), -1)
        out = []
        for i in range(len(p)):
            j = nxt[i]
            if keep[i]:
                out.append(p[i])
                if not keep[j]:
                    out.append(intersect(p[i], p[j]))
            elif keep[j]:
                out.append(intersect(p[i], p[j]))
        return np.asarray(out, np.float64).reshape(-1, 2)

    def ix(a, b, x):  # intersect segment ab with vertical line x
        t = (x - a[0]) / (b[0] - a[0])
        return (x, a[1] + t * (b[1] - a[1]))

    def iy(a, b, y):
        t = (y - a[1]) / (b[1] - a[1])
        return (a[0] + t * (b[0] - a[0]), y)

    p = pts
    p = clip_edge(p, lambda q: q[:, 0] >= minx, lambda a, b: ix(a, b, minx))
    p = clip_edge(p, lambda q: q[:, 0] <= maxx, lambda a, b: ix(a, b, maxx))
    p = clip_edge(p, lambda q: q[:, 1] >= miny, lambda a, b: iy(a, b, miny))
    p = clip_edge(p, lambda q: q[:, 1] <= maxy, lambda a, b: iy(a, b, maxy))
    if len(p) < 3:
        return np.zeros((0, 2))
    return np.vstack([p, p[:1]])


def clip_polygon_to_box(poly, minx, miny, maxx, maxy):
    """Clip polygon (outer + holes); drops emptied rings. Returns poly or None."""
    outer = clip_ring_to_box(poly[0], minx, miny, maxx, maxy)
    outer = remove_spikes(outer)
    if len(outer) < 4:
        return None
    out = [outer]
    for hole in poly[1:]:
        h = remove_spikes(clip_ring_to_box(hole, minx, miny, maxx, maxy))
        if len(h) >= 4:
            out.append(h)
    return out


def clip_multipolygon_to_box(mp, minx, miny, maxx, maxy):
    out = []
    for poly in mp:
        c = clip_polygon_to_box(poly, minx, miny, maxx, maxy)
        if c is not None:
            out.append(c)
    return out


def clip_segments_to_box(a, b, minx, miny, maxx, maxy):
    """Liang–Barsky clip of N independent segments against an axis box,
    fully vectorized (the batched form of the reference's segment-wise
    clip, src/tile_data.cpp:254-293).

    a, b: (N, 2) endpoint arrays.  Returns (ok, pa, pb): boolean keep
    mask and the clipped endpoints (valid where ok).
    """
    a = np.asarray(a, np.float64)
    b = np.asarray(b, np.float64)
    d = b - a
    t0 = np.zeros(len(a))
    t1 = np.ones(len(a))
    for dim, lo, hi in ((0, minx, maxx), (1, miny, maxy)):
        dd = d[:, dim]
        with np.errstate(divide="ignore", invalid="ignore"):
            tlo = np.where(dd != 0, (lo - a[:, dim]) / dd, -np.inf)
            thi = np.where(dd != 0, (hi - a[:, dim]) / dd, np.inf)
        tmin = np.minimum(tlo, thi)
        tmax = np.maximum(tlo, thi)
        inside0 = (a[:, dim] >= lo) & (a[:, dim] <= hi)
        tmin = np.where((dd == 0) & inside0, 0.0, tmin)
        tmax = np.where((dd == 0) & inside0, 1.0, tmax)
        tmin = np.where((dd == 0) & ~inside0, 2.0, tmin)   # reject
        tmax = np.where((dd == 0) & ~inside0, -1.0, tmax)
        t0 = np.maximum(t0, tmin)
        t1 = np.minimum(t1, tmax)
    ok = t0 <= t1
    pa = a + t0[:, None] * d
    pb = a + t1[:, None] * d
    return ok, pa, pb


def clip_line_to_box(line, minx, miny, maxx, maxy):
    """Clip a polyline to a box -> list of line parts (multilinestring).

    Mirrors the reference's segment-wise linestring clip
    (src/tile_data.cpp:254-293): each segment is clipped independently
    (Liang–Barsky) and consecutive surviving segments are re-chained
    while one ends where the next starts (``np.isclose`` at
    ``np.allclose``'s default tolerance).
    """
    p = np.asarray(line, np.float64)
    if len(p) < 2:
        return []
    ok, pas, pbs = clip_segments_to_box(p[:-1], p[1:], minx, miny, maxx, maxy)
    joined = np.zeros(len(ok), bool)
    joined[1:] = ok[:-1] & ok[1:] & np.isclose(
        pbs[:-1], pas[1:], rtol=1e-5, atol=1e-8).all(axis=1)
    # a part starts at each surviving segment that doesn't continue the
    # previous one and runs up to the next segment that doesn't join
    starts = np.flatnonzero(ok & ~joined)
    breaks = np.append(np.flatnonzero(~joined), len(ok))
    ends = breaks[np.searchsorted(breaks, starts, side="right")]
    return [np.vstack((pas[s], pbs[s:e])) for s, e in zip(starts, ends)]


def clip_to_box(kind, geom, minx, miny, maxx, maxy):
    """Clip a geometry of ``kind`` in the shape :func:`unpack` returns:
    LINESTRING / MULTILINESTRING lines -> a list of line parts, POLYGON
    -> a multipolygon.  Either may come back empty."""
    if kind in (LINESTRING, MULTILINESTRING):
        return [part for line in geom
                for part in clip_line_to_box(line, minx, miny, maxx, maxy)]
    return clip_multipolygon_to_box(geom, minx, miny, maxx, maxy)


def chain_segments(segments, done):
    """Greedy end-to-start chaining of polylines, reversal allowed: each
    unused segment seeds a chain, which takes the first unused segment
    that meets either of its ends until ``done(start, end, npts)`` holds
    or no segment meets it.  Segments under 2 points are skipped.
    Returns the chains as (N, 2) arrays in seed order (the chain loop of
    the reference's ReorderMultiLinestring, src/tile_worker.cpp:29-77,
    and of its multipolygon ring stitch, src/osm_store.cpp:123-227)."""
    segs = [s for s in segments if len(s) >= 2]
    heads = [tuple(s[0]) for s in segs]
    tails = [tuple(s[-1]) for s in segs]
    used = [False] * len(segs)
    out = []
    for seed in range(len(segs)):
        if used[seed]:
            continue
        used[seed] = True
        chain = [segs[seed]]
        start, end, npts = heads[seed], tails[seed], len(segs[seed])
        while not done(start, end, npts):
            for j, s in enumerate(segs):
                if used[j]:
                    continue
                if heads[j] == end:
                    chain.append(s[1:]); end = tails[j]
                elif tails[j] == end:
                    chain.append(s[::-1][1:]); end = heads[j]
                elif tails[j] == start:
                    chain.insert(0, s[:-1]); start = heads[j]
                elif heads[j] == start:
                    chain.insert(0, s[::-1][:-1]); start = tails[j]
                else:
                    continue
                used[j] = True
                npts += len(s) - 1
                break
            else:
                break
        out.append(np.vstack(chain))
    return out


def merge_lines(lines, cap=6000):
    """Chain same-attribute lines end-to-start until a chain holds
    ``cap`` points (reference ReorderMultiLinestring)."""
    return chain_segments(lines, lambda start, end, npts: npts >= cap)


def remove_spikes(ring, eps=0.0):
    """Drop consecutive-duplicate points and A->B->A spikes (reference uses
    boost remove_spikes before validity repair, src/tile_worker.cpp:239)."""
    pts = np.asarray(ring, np.float64)
    if len(pts) < 3:
        return pts
    closed = (pts[0] == pts[-1]).all()
    if closed:
        pts = pts[:-1]
    changed = True
    while changed and len(pts) >= 3:
        changed = False
        keep = np.ones(len(pts), dtype=bool)
        nxt = np.roll(pts, -1, axis=0)
        dup = (np.abs(pts - nxt) <= eps).all(axis=1)
        if dup.any():
            keep[np.nonzero(dup)[0]] = False
            pts = pts[keep]
            changed = True
            continue
        prv = np.roll(pts, 1, axis=0)
        nxt = np.roll(pts, -1, axis=0)
        spike = (np.abs(prv - nxt) <= eps).all(axis=1)
        if spike.any():
            pts = pts[~spike]
            changed = True
    if len(pts) < 3:
        return np.zeros((0, 2))
    return np.vstack([pts, pts[:1]])


def ring_self_intersects(ring) -> bool:
    """True if any two non-adjacent edges of the ring intersect (the
    validity test gating the reference's repair chain,
    src/tile_data.cpp:380-426 via boost is_valid).

    Candidate pairs come from an x-interval sweep (sort segments by min-x,
    pair each with the segments whose min-x falls inside its x-span, then
    bbox-filter on y) — near-linear for real rings instead of the naive
    O(n^2) pair matrix, so 10k-point coastline rings stay cheap."""
    pts = np.asarray(ring, np.float64)
    if len(pts) >= 2 and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    n = len(pts)
    if n < 4:
        return False
    a = pts
    b = np.roll(pts, -1, axis=0)
    minx = np.minimum(a[:, 0], b[:, 0]); maxx = np.maximum(a[:, 0], b[:, 0])
    miny = np.minimum(a[:, 1], b[:, 1]); maxy = np.maximum(a[:, 1], b[:, 1])

    order = np.argsort(minx, kind="stable")
    sminx = minx[order]
    hi = np.searchsorted(sminx, maxx[order], side="right")
    cnt = np.maximum(hi - np.arange(n) - 1, 0)
    total = int(cnt.sum())
    if total == 0:
        return False
    ii_s = np.repeat(np.arange(n), cnt)
    jj_s = (np.arange(total)
            - np.repeat(np.concatenate([[0], np.cumsum(cnt)[:-1]]), cnt)
            + ii_s + 1)
    oi, oj = order[ii_s], order[jj_s]
    # exclude adjacent edges (share a vertex): |i-j| == 1 or the wrap pair
    dd = np.abs(oi - oj)
    keep = (dd != 1) & (dd != n - 1)
    # y-bbox overlap (x overlap holds by construction of the sweep)
    keep &= (miny[oi] <= maxy[oj]) & (miny[oj] <= maxy[oi])
    oi, oj = oi[keep], oj[keep]
    if len(oi) == 0:
        return False

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    for s in range(0, len(oi), 1 << 22):
        i = oi[s:s + (1 << 22)]
        j = oj[s:s + (1 << 22)]
        p1x, p1y, p2x, p2y = a[i, 0], a[i, 1], b[i, 0], b[i, 1]
        p3x, p3y, p4x, p4y = a[j, 0], a[j, 1], b[j, 0], b[j, 1]
        d1 = cross(p3x, p3y, p4x, p4y, p1x, p1y)
        d2 = cross(p3x, p3y, p4x, p4y, p2x, p2y)
        d3 = cross(p1x, p1y, p2x, p2y, p3x, p3y)
        d4 = cross(p1x, p1y, p2x, p2y, p4x, p4y)
        if (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))).any():
            return True
        # collinear overlap of non-adjacent edges also invalid (bbox
        # overlap already holds for every candidate pair)
        if ((d1 == 0) & (d2 == 0) & (d3 == 0) & (d4 == 0)).any():
            return True
    return False


def multipolygon_is_simple(mp) -> bool:
    """All rings simple (cheap validity proxy; cross-ring intersections are
    resolved by the overlay-based repair when this test passes falsely —
    the repair chain only needs a fast common-case gate)."""
    return all(not ring_self_intersects(r) for poly in mp for r in poly)


# ---------------------------------------------------------------------------
# Pairwise geometry predicates (reference Intersects / CoveredBy /
# AreaIntersecting for non-point probes, src/osm_lua_processing.cpp:409-502
# via boost::geometry intersects/covered_by/intersection)
# ---------------------------------------------------------------------------

def _mp_rings(mp) -> list:
    return [r for poly in mp for r in poly]


def _segments_cross_any(a1, a2, b1, b2, pair_budget: int = 1 << 21):
    """bool per a-segment: does it properly cross OR touch any b-segment.
    Fully vectorized (touch test included — no per-pair Python); a-side is
    chunked so the pair matrices stay under ``pair_budget`` entries."""
    n, m = len(a1), len(b1)
    out = np.zeros(n, bool)
    if n == 0 or m == 0:
        return out
    step = max(1, pair_budget // m)
    B1x = b1[:, 0][None, :]; B1y = b1[:, 1][None, :]
    B2x = b2[:, 0][None, :]; B2y = b2[:, 1][None, :]
    bminx = np.minimum(B1x, B2x); bmaxx = np.maximum(B1x, B2x)
    bminy = np.minimum(B1y, B2y); bmaxy = np.maximum(B1y, B2y)
    for s in range(0, n, step):
        e = min(n, s + step)
        A1x = a1[s:e, 0][:, None]; A1y = a1[s:e, 1][:, None]
        A2x = a2[s:e, 0][:, None]; A2y = a2[s:e, 1][:, None]
        d1 = (A1x - B1x) * (B2y - B1y) - (A1y - B1y) * (B2x - B1x)
        d2 = (A2x - B1x) * (B2y - B1y) - (A2y - B1y) * (B2x - B1x)
        d3 = (B1x - A1x) * (A2y - A1y) - (B1y - A1y) * (A2x - A1x)
        d4 = (B2x - A1x) * (A2y - A1y) - (B2y - A1y) * (A2x - A1x)
        hit = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        # touch / collinear overlap: an endpoint of one lies on the other
        aminx = np.minimum(A1x, A2x); amaxx = np.maximum(A1x, A2x)
        aminy = np.minimum(A1y, A2y); amaxy = np.maximum(A1y, A2y)
        hit |= (d1 == 0) & (A1x >= bminx) & (A1x <= bmaxx) \
            & (A1y >= bminy) & (A1y <= bmaxy)
        hit |= (d2 == 0) & (A2x >= bminx) & (A2x <= bmaxx) \
            & (A2y >= bminy) & (A2y <= bmaxy)
        hit |= (d3 == 0) & (B1x >= aminx) & (B1x <= amaxx) \
            & (B1y >= aminy) & (B1y <= amaxy)
        hit |= (d4 == 0) & (B2x >= aminx) & (B2x <= amaxx) \
            & (B2y >= aminy) & (B2y <= amaxy)
        out[s:e] = hit.any(axis=1)
    return out


def _batch_segments(parts: list) -> tuple:
    """Concatenate the segments of many polylines/rings.
    Returns (a1, a2, owner) where owner[i] is the part index."""
    segs1 = [p[:-1] for p in parts if len(p) >= 2]
    segs2 = [p[1:] for p in parts if len(p) >= 2]
    owners = [np.full(len(p) - 1, i)
              for i, p in enumerate(parts) if len(p) >= 2]
    if not segs1:
        z = np.zeros((0, 2))
        return z, z, np.zeros(0, np.int64)
    return (np.concatenate(segs1), np.concatenate(segs2),
            np.concatenate(owners).astype(np.int64))


def _mp_boundary_segments(mp) -> tuple:
    """(b1, b2) stacked segments of every ring of a multipolygon."""
    rings = [r for r in _mp_rings(mp) if len(r) >= 2]
    if not rings:
        z = np.zeros((0, 2))
        return z, z
    return (np.concatenate([r[:-1] for r in rings]),
            np.concatenate([r[1:] for r in rings]))


def lines_intersect_multipolygon_batch(lines: list, mp) -> np.ndarray:
    """Line/polygon Intersects, boundary crossing OR line inside, for
    MANY probe lines against ONE multipolygon: one crossing matrix + one
    batched ray cast instead of per-line Python."""
    n = len(lines)
    a1, a2, owner = _batch_segments(lines)
    b1, b2 = _mp_boundary_segments(mp)
    hit = np.zeros(n, bool)
    seg_hit = _segments_cross_any(a1, a2, b1, b2)
    np.logical_or.at(hit, owner[seg_hit], True)
    rest = ~hit
    if rest.any():
        px = np.array([lines[i][0, 0] for i in range(n)])
        py = np.array([lines[i][0, 1] for i in range(n)])
        inside = points_in_multipolygon(px[rest], py[rest], mp)
        hit[np.nonzero(rest)[0][inside]] = True
    return hit


def lines_covered_by_multipolygon_batch(lines: list, mp) -> np.ndarray:
    """Line CoveredBy polygon, per probe line: all vertices inside and no
    boundary crossing (boost covered_by semantics for simple inputs)."""
    n = len(lines)
    pts = np.concatenate(lines)
    powner = np.repeat(np.arange(n), [len(l) for l in lines])
    inside = points_in_multipolygon(pts[:, 0], pts[:, 1], mp)
    ok = np.ones(n, bool)
    np.logical_and.at(ok, powner, inside)
    if ok.any():
        a1, a2, owner = _batch_segments(lines)
        b1, b2 = _mp_boundary_segments(mp)
        seg_hit = _segments_cross_any(a1, a2, b1, b2)
        ok[owner[seg_hit]] = False
    return ok


def mps_intersect_multipolygon_batch(probes: list, mp) -> np.ndarray:
    """Polygon/polygon Intersects, per probe multipolygon against one
    multipolygon: boundary crossing OR containment either way.
    Containment is tested per COMPONENT (one representative outer-ring
    vertex of each polygon part) — a multi-part geometry can have a
    non-first part wholly inside the other polygon with no boundary
    crossing anywhere."""
    n = len(probes)
    rings = [(i, r) for i, p in enumerate(probes) for r in _mp_rings(p)]
    a1, a2, owner = _batch_segments([r for _, r in rings])
    ridx = np.array([i for i, _ in rings], np.int64)
    b1, b2 = _mp_boundary_segments(mp)
    hit = np.zeros(n, bool)
    seg_hit = _segments_cross_any(a1, a2, b1, b2)
    if seg_hit.any():
        np.logical_or.at(hit, ridx[owner[seg_hit]], True)
    # probe component representative vertex inside mp
    rest = ~hit
    if rest.any():
        reps = [(i, poly[0][0]) for i in np.nonzero(rest)[0]
                for poly in probes[i]]
        if reps:
            rown = np.array([i for i, _ in reps], np.int64)
            rp = np.array([p for _, p in reps])
            inside = points_in_multipolygon(rp[:, 0], rp[:, 1], mp)
            np.logical_or.at(hit, rown[inside], True)
    # mp component representative vertex inside probe (few mp components;
    # only probes still undecided)
    mp_reps = np.array([poly[0][0] for poly in mp])
    for i in np.nonzero(~hit)[0]:
        if points_in_multipolygon(
                mp_reps[:, 0], mp_reps[:, 1], probes[i]).any():
            hit[i] = True
    return hit


def mps_covered_by_batch(probes: list, mp) -> np.ndarray:
    """Polygon CoveredBy polygon, per probe multipolygon against one
    multipolygon ``mp``: every probe vertex inside ``mp``, no boundary
    crossing, and no hole of ``mp`` pokes into the probe
    (hole-vertex-in-probe check)."""
    n = len(probes)
    rings = [(i, r) for i, p in enumerate(probes) for r in _mp_rings(p)]
    pts = np.concatenate([r for _, r in rings])
    powner = np.repeat(
        np.array([i for i, _ in rings], np.int64),
        [len(r) for _, r in rings])
    inside = points_in_multipolygon(pts[:, 0], pts[:, 1], mp)
    ok = np.ones(n, bool)
    np.logical_and.at(ok, powner, inside)
    if ok.any():
        a1, a2, owner = _batch_segments([r for _, r in rings])
        ridx = np.array([i for i, _ in rings], np.int64)
        b1, b2 = _mp_boundary_segments(mp)
        seg_hit = _segments_cross_any(a1, a2, b1, b2)
        ok[ridx[owner[seg_hit]]] = False
    # no b-hole may poke into a surviving probe
    holes = [h for poly in mp for h in poly[1:]]
    for i in np.nonzero(ok)[0]:
        for h in holes:
            if points_in_multipolygon(h[:, 0], h[:, 1], probes[i]).any():
                ok[i] = False
                break
    return ok


# ---------------------------------------------------------------------------
# Simplification
# ---------------------------------------------------------------------------

def douglas_peucker(line, tol):
    """Douglas–Peucker simplify (reference src/geom.cpp:119-124 semantics:
    boost::geometry::simplify with tolerance in coordinate units)."""
    pts = np.asarray(line, np.float64)
    n = len(pts)
    if n < 3:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    tol2 = tol * tol
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        seglen2 = seg @ seg
        rel = pts[i + 1:j] - pts[i]
        if seglen2 == 0.0:
            d2 = (rel ** 2).sum(axis=1)
        else:
            t = np.clip((rel @ seg) / seglen2, 0.0, 1.0)
            proj = np.outer(t, seg)
            d2 = ((rel - proj) ** 2).sum(axis=1)
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            idx = i + 1 + k
            keep[idx] = True
            stack.append((i, idx))
            stack.append((idx, j))
    return pts[keep]


def visvalingam(line, tol_area):
    """Visvalingam–Whyatt: iteratively drop the vertex with the smallest
    effective triangle area below tol_area (reference src/visvalingam.cpp,
    a tippecanoe/orb-style port — reimplemented from the published
    algorithm)."""
    pts = np.asarray(line, np.float64)
    n = len(pts)
    if n < 3:
        return pts
    import heapq
    prev = np.arange(n) - 1
    nxt = np.arange(n) + 1
    alive = np.ones(n, dtype=bool)

    def tri_area(i):
        a, b, c = pts[prev[i]], pts[i], pts[nxt[i]]
        return 0.5 * abs(
            (b[0] - a[0]) * (c[1] - a[1]) - (c[0] - a[0]) * (b[1] - a[1])
        )

    heap = [(tri_area(i), i) for i in range(1, n - 1)]
    heapq.heapify(heap)
    areas = {i: a for a, i in heap}
    removed = 0
    while heap:
        a, i = heapq.heappop(heap)
        if not alive[i] or areas.get(i) != a:
            continue
        if a >= tol_area:
            break
        if n - removed <= (3 if (pts[0] == pts[-1]).all() else 2):
            break
        alive[i] = False
        removed += 1
        p, q = prev[i], nxt[i]
        nxt[p], prev[q] = q, p
        for j in (p, q):
            if 0 < j < n - 1 and alive[j]:
                na = tri_area(j)
                areas[j] = na
                heapq.heappush(heap, (na, j))
    return pts[alive]


def simplify_ring(ring, tol, algorithm="dp"):
    """Simplify a closed ring; drops it if it degenerates (<4 points) or its
    perimeter is tiny vs tolerance (reference topo-guard drop rule,
    src/geom.cpp:18-117: rings with perimeter < 3*tol or <4 pts vanish)."""
    pts = np.asarray(ring, np.float64)
    if len(pts) < 4:
        return np.zeros((0, 2))
    per = np.abs(np.diff(pts, axis=0)).sum()
    if per < 3.0 * tol:
        return np.zeros((0, 2))
    body = pts[:-1]
    anchor = int(np.argmax(body[:, 0] + body[:, 1]))  # deterministic anchor
    rolled = np.roll(body, -anchor, axis=0)
    closed = np.vstack([rolled, rolled[:1]])
    simp = (douglas_peucker(closed, tol) if algorithm == "dp"
            else visvalingam(closed, tol * tol))
    if len(simp) < 4:
        return np.zeros((0, 2))
    # topology guard (reference src/geom.cpp:18-117 checks candidate
    # edges against ring intersections during DP): if simplification
    # produced a self-intersecting ring, retry at half tolerance, then
    # fall back to the unsimplified ring
    if ring_self_intersects(simp):
        simp2 = (douglas_peucker(closed, tol / 2) if algorithm == "dp"
                 else visvalingam(closed, tol * tol / 4))
        if len(simp2) >= 4 and not ring_self_intersects(simp2):
            return simp2
        return closed
    return simp


# ---------------------------------------------------------------------------
# Rectilinear building simplification (reference src/simplify_buildings.cpp
# semantics, written from scratch in numpy): retain the typical right-angled
# shape while removing short "stub" detours — iteratively pick the shortest
# edge below the distance filter, replace the 4-point detour around it with
# the intersection of the two flanking lines (snapped to a right angle when
# close), guarded by area / parallel / path-length / self-intersection
# checks.  remove-collinear runs first.
# ---------------------------------------------------------------------------

_B_COLLINEAR_TOL = 8.0     # degrees around 180
_B_SNAP_TOL = 3.0          # degrees around 90/270: snap to right angle
_B_PARALLEL_TOL = 0.1      # normalized cross-product threshold
_B_INTERSECT_TOL = 0.001   # parametric interior margin


def _b_turn_angle(a, b, c) -> float:
    rad = np.arctan2(c[1] - b[1], c[0] - b[0]) - np.arctan2(
        a[1] - b[1], a[0] - b[0])
    deg = np.degrees(rad)
    return deg - 360.0 * np.floor(deg / 360.0)


def _b_remove_collinear(ring: list) -> None:
    changed = True
    while changed and len(ring) > 3:
        changed = False
        for i in range(1, len(ring) - 1):
            a = _b_turn_angle(ring[i - 1], ring[i], ring[i + 1])
            if 180.0 - _B_COLLINEAR_TOL <= a <= 180.0 + _B_COLLINEAR_TOL:
                del ring[i]
                changed = True
                break


def _b_line_intersection(pL1, pL2, pM1, pM2):
    """Intersection of the infinite lines, snapping to a right angle when
    the angle is within SNAP_TOL of 90/270 (perpendicular drop of pM2
    onto line L); midpoint fallback for parallel lines."""
    a1 = pL1[1] - pL2[1]; b1 = pL2[0] - pL1[0]
    c1 = (pL2[1] - pL1[1]) * pL1[0] - (pL2[0] - pL1[0]) * pL1[1]
    a2 = pM1[1] - pM2[1]; b2 = pM2[0] - pM1[0]
    c2 = (pM2[1] - pM1[1]) * pM1[0] - (pM2[0] - pM1[0]) * pM1[1]
    ang = np.degrees(np.arctan2(a2 * b1 - a1 * b2,
                                a1 * a2 + b1 * b2)) + 180.0
    if (90.0 - _B_SNAP_TOL < ang < 90.0 + _B_SNAP_TOL
            or 270.0 - _B_SNAP_TOL < ang < 270.0 + _B_SNAP_TOL):
        denom = (pL2[0] - pL1[0]) ** 2 + (pL2[1] - pL1[1]) ** 2
        if denom < 1e-20:
            return ((pL2[0] + pM1[0]) / 2.0, (pL2[1] + pM1[1]) / 2.0)
        t = ((pM2[0] - pL1[0]) * (pL2[0] - pL1[0])
             + (pM2[1] - pL1[1]) * (pL2[1] - pL1[1])) / denom
        return (pL1[0] + (pL2[0] - pL1[0]) * t,
                pL1[1] + (pL2[1] - pL1[1]) * t)
    num = a1 * b2 - a2 * b1
    if abs(num) < 1e-20:
        return ((pL2[0] + pM1[0]) / 2.0, (pL2[1] + pM1[1]) / 2.0)
    return ((b1 * c2 - b2 * c1) / num, (c1 * a2 - c2 * a1) / num)


def _b_properly_intersects(l1, l2, m1, m2, tol=_B_INTERSECT_TOL) -> bool:
    det = (l2[0] - l1[0]) * (m2[1] - m1[1]) \
        - (m2[0] - m1[0]) * (l2[1] - l1[1])
    if det == 0.0:
        return False
    lv = ((m2[1] - m1[1]) * (m2[0] - l1[0])
          + (m1[0] - m2[0]) * (m2[1] - l1[1])) / det
    gv = ((l1[1] - l2[1]) * (m2[0] - l1[0])
          + (l2[0] - l1[0]) * (m2[1] - l1[1])) / det
    return tol < lv < 1.0 - tol and tol < gv < 1.0 - tol


def _b_new_edges_hit(p, q, segments, skip) -> bool:
    for (s1, s2) in segments:
        skipped = False
        for (k1, k2) in skip:
            if (s1 == k1 and s2 == k2) or (s1 == k2 and s2 == k1):
                skipped = True
                break
        if not skipped and _b_properly_intersects(p, q, s1, s2):
            return True
    return False


def _b_simplify_open_ring(ring: list, distance_filter: float,
                          area_filter: float, area_narrow: float,
                          other_segs: list) -> None:
    _b_remove_collinear(ring)
    while True:
        m = len(ring)
        if m < 4:
            break
        segs = [np.hypot(ring[(k + 1) % m][0] - ring[k][0],
                         ring[(k + 1) % m][1] - ring[k][1])
                for k in range(m)]
        all_segs = [(ring[k], ring[(k + 1) % m]) for k in range(m)]
        shortest = distance_filter
        best = -1
        best_xy = None
        for k in range(m):
            if segs[k] >= shortest:
                continue
            d1, d2 = segs[k], segs[(k + 1) % m]
            if (d1 * d2 > area_filter and d1 >= area_narrow
                    and d2 >= area_narrow):
                continue
            km1 = (k + m - 1) % m
            kp1, kp2, kp3 = (k + 1) % m, (k + 2) % m, (k + 3) % m
            dxl = ring[k][0] - ring[km1][0]
            dyl = ring[k][1] - ring[km1][1]
            dxm = ring[kp3][0] - ring[kp2][0]
            dym = ring[kp3][1] - ring[kp2][1]
            crossv = dxl * dym - dyl * dxm
            scale = np.sqrt((dxl * dxl + dyl * dyl)
                            * (dxm * dxm + dym * dym))
            if abs(crossv) < _B_PARALLEL_TOL * scale:
                continue
            xy = _b_line_intersection(ring[km1], ring[k],
                                      ring[kp2], ring[kp3])
            old_len = segs[km1] + segs[k] + segs[kp1] + segs[kp2]
            new_len = (np.hypot(xy[0] - ring[km1][0], xy[1] - ring[km1][1])
                       + np.hypot(xy[0] - ring[kp3][0],
                                  xy[1] - ring[kp3][1]))
            if new_len > old_len:
                continue
            skip = [(ring[km1], ring[k]), (ring[k], ring[kp1]),
                    (ring[kp1], ring[kp2]), (ring[kp2], ring[kp3])]
            if _b_new_edges_hit(ring[km1], xy, all_segs, skip):
                continue
            if _b_new_edges_hit(xy, ring[kp3], all_segs, skip):
                continue
            if other_segs and (
                    _b_new_edges_hit(ring[km1], xy, other_segs, [])
                    or _b_new_edges_hit(xy, ring[kp3], other_segs, [])):
                continue
            shortest = segs[k]
            best = k
            best_xy = xy
        if best < 0:
            break
        k = best
        kp1, kp2 = (k + 1) % m, (k + 2) % m
        ring[:] = [best_xy if i == k else ring[i]
                   for i in range(m) if i not in (kp1, kp2)]


def simplify_buildings(mp, max_distance: float):
    """Simplify each polygon of a multipolygon with the rectilinear
    building rules (reference simplifyBuildings entry point: area filter
    = d^2/2, narrow-sliver exception = d/2); inners first, the outer
    guarded against crossing the simplified inners."""
    area_filter = max_distance * max_distance / 2.0
    area_narrow = max_distance / 2.0
    out = []
    for poly in mp:
        inner_segs: list = []
        # inners first (reference order), then the outer
        inners_out = []
        for hole in poly[1:]:
            ring = [tuple(p) for p in np.asarray(hole, np.float64)]
            if len(ring) > 1 and ring[0] == ring[-1]:
                ring = ring[:-1]
            _b_simplify_open_ring(ring, max_distance, area_filter,
                                  area_narrow, inner_segs)
            if len(ring) >= 3:
                inners_out.append(np.asarray(ring + [ring[0]], np.float64))
                n = len(ring)
                inner_segs.extend(
                    (ring[k], ring[(k + 1) % n]) for k in range(n))
        outer = [tuple(p) for p in np.asarray(poly[0], np.float64)]
        if len(outer) > 1 and outer[0] == outer[-1]:
            outer = outer[:-1]
        _b_simplify_open_ring(outer, max_distance, area_filter,
                              area_narrow, inner_segs)
        if len(outer) >= 3:
            new_poly = [np.asarray(outer + [outer[0]], np.float64)]
            new_poly.extend(inners_out)
            out.append(new_poly)
    return out


# ---------------------------------------------------------------------------
# Tile covering (object -> set of base-zoom tiles), reference semantics:
# point -> 1 tile; line -> supercover raster of the tile grid
# (src/coordinates_geom.cpp:112-199); polygon -> boundary raster + per-column
# gap fill between consecutive covered y (src/coordinates.cpp:52-67).
# ---------------------------------------------------------------------------

def _supercover_segment(x0, y0, x1, y1):
    """All integer grid cells a segment (in fractional tile coords) passes
    through — Amanatides–Woo traversal. Returns (K,2) int64 array."""
    cells = []
    cx, cy = int(np.floor(x0)), int(np.floor(y0))
    ex, ey = int(np.floor(x1)), int(np.floor(y1))
    cells.append((cx, cy))
    dx, dy = x1 - x0, y1 - y0
    n_steps = abs(ex - cx) + abs(ey - cy)
    if n_steps == 0:
        return np.asarray(cells, np.int64)
    step_x = 1 if dx > 0 else -1
    step_y = 1 if dy > 0 else -1
    t_max_x = ((cx + (step_x > 0)) - x0) / dx if dx != 0 else np.inf
    t_max_y = ((cy + (step_y > 0)) - y0) / dy if dy != 0 else np.inf
    t_dx = abs(1.0 / dx) if dx != 0 else np.inf
    t_dy = abs(1.0 / dy) if dy != 0 else np.inf
    for _ in range(n_steps):
        if t_max_x < t_max_y:
            cx += step_x
            t_max_x += t_dx
        else:
            cy += step_y
            t_max_y += t_dy
        cells.append((cx, cy))
    return np.asarray(cells, np.int64)


def _supercover_segments(x0, y0, x1, y1):
    """Vectorized Amanatides–Woo supercover over MANY segments at once
    (endpoints in fractional tile coords, shape (n,)).  Returns (cells,
    seg): (K, 2) int64 cells, duplicates included, and the (K,) index of
    the segment each cell belongs to.  Produces the same cell set per
    segment as :func:`_supercover_segment` (crossing events are merged by
    parameter t; exact corner ties step y before x like the scalar walk's
    ``t_max_x < t_max_y`` comparison)."""
    x0 = np.asarray(x0, np.float64); y0 = np.asarray(y0, np.float64)
    x1 = np.asarray(x1, np.float64); y1 = np.asarray(y1, np.float64)
    n = len(x0)
    cx = np.floor(x0).astype(np.int64); cy = np.floor(y0).astype(np.int64)
    ex = np.floor(x1).astype(np.int64); ey = np.floor(y1).astype(np.int64)
    dx = x1 - x0; dy = y1 - y0
    nx = np.abs(ex - cx); ny = np.abs(ey - cy)
    step_x = np.where(dx > 0, 1, -1).astype(np.int64)
    step_y = np.where(dy > 0, 1, -1).astype(np.int64)

    def events(cnt, c0, step, p0, dp):
        """(seg_id, t, step) for every axis-boundary crossing."""
        total = int(cnt.sum())
        seg = np.repeat(np.arange(n), cnt)
        j = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        bound = np.where(step[seg] > 0, c0[seg] + 1 + j, c0[seg] - j)
        t = (bound - p0[seg]) / dp[seg]
        return seg, t, step[seg]

    seg_x, t_x, sx = events(nx, cx, step_x, x0, dx)
    seg_y, t_y, sy = events(ny, cy, step_y, y0, dy)
    seg = np.concatenate([seg_x, seg_y])
    t = np.concatenate([t_x, t_y])
    sdx = np.concatenate([sx, np.zeros(len(seg_y), np.int64)])
    sdy = np.concatenate([np.zeros(len(seg_x), np.int64), sy])
    is_x = np.concatenate([np.ones(len(seg_x), np.int8),
                           np.zeros(len(seg_y), np.int8)])
    order = np.lexsort((is_x, t, seg))
    seg = seg[order]; sdx = sdx[order]; sdy = sdy[order]

    counts = nx + ny
    offsets = np.concatenate([[0], np.cumsum(counts)])
    cum_dx = np.concatenate([[0], np.cumsum(sdx)])
    cum_dy = np.concatenate([[0], np.cumsum(sdy)])
    base_dx = np.repeat(cum_dx[offsets[:-1]], counts)
    base_dy = np.repeat(cum_dy[offsets[:-1]], counts)
    ecx = cx[seg] + (cum_dx[1:] - base_dx)
    ecy = cy[seg] + (cum_dy[1:] - base_dy)
    cells = np.concatenate([
        np.column_stack([cx, cy]),          # every segment's start cell
        np.column_stack([ecx, ecy]),
    ])
    return cells, np.concatenate([np.arange(n), seg])


def fill_covered_tiles(cells, rows=None):
    """Per-column fill between consecutive covered y's (reference
    fillCoveredTiles, src/coordinates.cpp:52-67: every per-x gap between
    successive present tiles is filled).  Fully vectorized: each cell
    repeats once per tile up to the next cell of its column.

    Without ``rows``: the filled (n, 2) cells sorted by (x, y).  With
    ``rows`` (each cell's owner), ``cells`` must be sorted by (rows, x,
    y), a column is one (row, x), and the result is (rows, cells) of the
    filled set in the same order."""
    if rows is None:
        cells = np.asarray(cells, np.int64).reshape(-1, 2)
        cells = cells[np.lexsort((cells[:, 1], cells[:, 0]))]
        return fill_covered_tiles(cells, np.zeros(len(cells), np.int64))[1]
    x, y = cells[:, 0], cells[:, 1]
    reps = np.ones(len(x), np.int64)
    reps[:-1] += np.where((rows[1:] == rows[:-1]) & (x[1:] == x[:-1]),
                          np.maximum(y[1:] - y[:-1] - 1, 0), 0)
    k = np.repeat(np.arange(len(x)), reps)
    step = np.arange(len(k)) - np.repeat(np.cumsum(reps) - reps, reps)
    return rows[k], np.column_stack([x[k], y[k] + step])


def packed_flat(batch) -> list:
    """The ``coords`` and ``ring_sizes`` columns of an Arrow RecordBatch or
    Table as flat buffers: [coords values, coords offsets, ring_sizes
    values, ring_sizes offsets], the geometry :func:`cover_batch` takes.
    Zero-copy; copies only a Table column of several chunks."""
    return [a for name in PACKED[:2] for a in _list_buffers(batch, name)]


def pack_batch(rows: list) -> tuple:
    """Rows of parts (each row a list of (n, 2) arrays: lines, rings, or
    one array of points) -> the flat buffers :func:`packed_flat` reads."""
    sizes = [len(p) for parts in rows for p in parts]
    coords = np.concatenate(
        [np.zeros(0)] + [np.asarray(p, np.float64).reshape(-1)
                         for parts in rows for p in parts])
    rings_off = np.cumsum([0] + [len(parts) for parts in rows])
    coords_off = 2 * np.cumsum([0] + sizes)[rings_off]
    return coords, coords_off, np.asarray(sizes, np.int64), rings_off


def cover_batch(kinds, coords, coords_off, ring_sizes, rings_off, z):
    """Tiles at zoom z covered by every row of a batch of packed
    geometries, in one pass: ``kinds`` per row plus the flat values and
    per-row offsets of the ``coords`` and ``ring_sizes`` list columns
    (:func:`packed_flat`).  Returns (row, x, y) int64 arrays sorted by
    (row, x, y), unique per row; a row without vertices covers nothing.

    A point row covers the tile of each vertex.  A line row covers the
    supercover of each of its lines (the ``ring_sizes`` runs; a one-point
    line covers its vertex); a polygon row covers the supercover of its
    rings' edges, or the tile of its first vertex when it has no edge.
    Cells are clamped to the grid, then each polygon row's columns are
    filled (:func:`fill_covered_tiles`)."""
    kinds = np.asarray(kinds)
    n = len(kinds)
    co = np.asarray(coords_off, np.int64)
    ro = np.asarray(rings_off, np.int64)
    xy = np.asarray(coords, np.float64)[co[0]:co[-1]].reshape(-1, 2)
    npts = np.diff(co) // 2
    vrow = np.repeat(np.arange(n), npts)
    fx = lon2tilexf(xy[:, 0], z)
    fy = lat2tileyf(xy[:, 1], z)
    point = kinds == POINT
    poly = ~point & (kinds != LINESTRING) & (kinds != MULTILINESTRING)
    # parts: a line or ring per ring_sizes run, a point per vertex; an
    # edge joins each vertex to the next one of its part
    sizes = np.asarray(ring_sizes, np.int64)[ro[0]:ro[-1]][
        ~point[np.repeat(np.arange(n), np.diff(ro))]]
    vpt = point[vrow]
    part = np.empty(len(vrow), np.int64)
    part[~vpt] = np.repeat(np.arange(len(sizes)), sizes)
    part[vpt] = len(sizes) + np.arange(int(vpt.sum()))
    edge = np.flatnonzero(part[1:] == part[:-1])
    # vertices covered on their own: points, one-point lines, and the
    # first vertex of a polygon row without an edge
    lone = vpt.copy()
    lone[~vpt] = np.repeat(sizes == 1, sizes) & ~poly[vrow[~vpt]]
    bare = poly & (npts > 0) & (np.bincount(vrow[edge], minlength=n) == 0)
    lone[(co[:-1][bare] - co[0]) // 2] = True
    v = np.flatnonzero(lone)
    cells, seg = _supercover_segments(fx[edge], fy[edge], fx[edge + 1],
                                      fy[edge + 1])
    m = (np.int64(1) << z) - 1
    row = np.concatenate([vrow[edge][seg], vrow[v]])
    x = np.clip(np.concatenate(
        [cells[:, 0], np.floor(fx[v]).astype(np.int64)]), 0, m)
    y = np.clip(np.concatenate(
        [cells[:, 1], np.floor(fy[v]).astype(np.int64)]), 0, m)
    order = np.lexsort((y, x, row))
    row, x, y = row[order], x[order], y[order]
    first = np.ones(len(row), bool)
    first[1:] = (row[1:] != row[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    row, x, y = row[first], x[first], y[first]
    fill = poly[row]
    frow, fcells = fill_covered_tiles(np.column_stack([x[fill], y[fill]]),
                                      row[fill])
    row = np.concatenate([row[~fill], frow])
    order = np.argsort(row, kind="stable")  # rows are all fill or none
    return (row[order], np.concatenate([x[~fill], fcells[:, 0]])[order],
            np.concatenate([y[~fill], fcells[:, 1]])[order])


def covering_tiles_line(line_lonlat, z):
    """Tiles covered by a polyline at zoom z. Returns unique (K,2) int64."""
    return covering_tiles(LINESTRING, [line_lonlat], z)


def covering_tiles_polygon(mp, z):
    """Tiles covered by a multipolygon at zoom z: ring supercover + fill."""
    return covering_tiles(POLYGON, mp, z)


def covering_tiles_point(lon, lat, z):
    """The (1, 2) int64 tile holding one point at zoom z, clamped to the
    grid."""
    return covering_tiles(POINT, [(lon, lat)], z)


def covering_tiles(kind, geom, z):
    """Unique (n, 2) int64 tiles at zoom z covered by ``geom``, a geometry
    of ``kind`` in the shape :func:`unpack` returns: a one-row
    :func:`cover_batch`.  An empty geometry covers no tile."""
    if kind == POINT:
        parts = [geom]
    elif kind in (LINESTRING, MULTILINESTRING):
        parts = geom
    else:
        parts = [r for poly in geom for r in poly]
    _, x, y = cover_batch([kind], *pack_batch([parts]), z)
    return np.column_stack([x, y])


# ---------------------------------------------------------------------------
# Label points (reference Centroid()/polylabel,
# src/osm_lua_processing.cpp:865-943, include/polylabel.h — mapbox polylabel
# algorithm reimplemented from the published description)
# ---------------------------------------------------------------------------

def ring_centroid(ring):
    """Planar area-weighted centroid of a closed ring."""
    x, y = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(x.mean()), float(y.mean())
    cx = ((x + x1) * cross).sum() / (6.0 * a)
    cy = ((y + y1) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def multipolygon_centroid(mp):
    """Planar area-weighted centroid of a multipolygon, holes subtracting
    — the boost::geometry::centroid analogue behind the reference's
    ``Centroid("centroid")`` algorithm choice
    (src/osm_lua_processing.cpp:865-905, CentroidAlgorithm::Centroid)."""
    num_x = num_y = den = 0.0
    for poly in mp:
        for k, ring in enumerate(poly):
            x, y = ring[:-1, 0], ring[:-1, 1]
            x1, y1 = np.roll(x, -1), np.roll(y, -1)
            cross = x * y1 - x1 * y
            a = cross.sum() / 2.0
            if a == 0.0:
                continue
            cx = ((x + x1) * cross).sum() / (6.0 * a)
            cy = ((y + y1) * cross).sum() / (6.0 * a)
            w = abs(a) if k == 0 else -abs(a)
            num_x += cx * w
            num_y += cy * w
            den += w
    if den == 0.0:
        r = mp[0][0]
        return float(r[:-1, 0].mean()), float(r[:-1, 1].mean())
    return num_x / den, num_y / den


def _dist_to_rings(px, py, rings):
    """Signed distance from one point to polygon rings (+ inside)."""
    p = np.asarray([px, py])
    best = np.inf
    for ring in rings:
        a, b = ring[:-1], ring[1:]
        d = b - a
        len2 = (d ** 2).sum(axis=1)
        t = np.clip(((p - a) * d).sum(axis=1) / np.where(len2 == 0, 1, len2), 0, 1)
        proj = a + t[:, None] * d
        dist2 = ((proj - p) ** 2).sum(axis=1)
        best = min(best, float(dist2.min()))
    inside = bool(points_in_polygon(np.asarray([px]), np.asarray([py]),
                                    [rings[0]] + list(rings[1:]))[0])
    return (1.0 if inside else -1.0) * np.sqrt(best)


def polylabel(poly, precision_frac=0.02):
    """Pole of inaccessibility via the mapbox quadtree search (public
    algorithm). poly = [outer, holes...]. Returns (x, y)."""
    minx, miny, maxx, maxy = ring_bbox(poly[0])
    size = max(maxx - minx, maxy - miny)
    if size == 0:
        return float(poly[0][0, 0]), float(poly[0][0, 1])
    precision = size * precision_frac
    import heapq
    h = size / 2.0

    def cell(cx, cy, half):
        d = _dist_to_rings(cx, cy, poly)
        return (-(d + half * np.sqrt(2.0)), half, cx, cy, d)

    heap = []
    x = minx
    while x < maxx:
        y = miny
        while y < maxy:
            heapq.heappush(heap, cell(x + h, y + h, h))
            y += size
        x += size
    cx, cy = ring_centroid(poly[0])
    best = (_dist_to_rings(cx, cy, poly), cx, cy)
    bx = (_dist_to_rings((minx + maxx) / 2, (miny + maxy) / 2, poly),
          (minx + maxx) / 2, (miny + maxy) / 2)
    if bx[0] > best[0]:
        best = bx
    while heap:
        negmax, half, ccx, ccy, d = heapq.heappop(heap)
        if d > best[0]:
            best = (d, ccx, ccy)
        if -negmax - best[0] <= precision:
            continue
        q = half / 2.0
        for ox in (-q, q):
            for oy in (-q, q):
                heapq.heappush(heap, cell(ccx + ox, ccy + oy, q))
    return float(best[1]), float(best[2])
