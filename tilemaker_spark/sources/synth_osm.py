"""Deterministic country-scale synthetic OSM extract (no network needed).

The BASELINE evidence plan calls for an end-to-end run at ~20x the monaco
fixture (~1M nodes / ~100k ways — Liechtenstein-extract scale), but the
sandbox has no network to fetch a real Geofabrik file.  This module
synthesizes one: a seeded numpy generator lays out towns, roads,
buildings, landuse/water areas and multipolygon relations inside a
Liechtenstein-sized bbox, and :func:`write_synth_pbf` serializes them
through :mod:`tilemaker_spark.kernels.pbf_write` into a real .osm.pbf
(DenseNodes, Sort.Type_then_ID, zlib blobs) that the normal source path
(`sources.pbf.read_pbf_multi`) decodes like any planet extract.

Realism properties that matter for the pipeline under test:

- **Skew**: buildings/POIs cluster 80/20 around town centers (the same
  urban-cluster skew the scaling bench uses), so tile grouping sees hot
  z6/z14 cells, not a uniform field.
- **Dead weight**: ~25% of nodes are untagged and unreferenced, so the
  node_keys / used-nodes transitive closure actually prunes.
- **Topology**: building rings are closed ways; multipolygon relations
  carry outer+inner members with roles; roads are open polylines — every
  assembly path (way_line / way_area / relation) gets exercised.
- **Tag vocabulary** matches the openmaptiles-lite profile (highway=*,
  building=yes, landuse=*, natural=water, amenity/place + name), so the
  full job entry produces features in every layer.

All tags/coordinates derive from one numpy PCG64 seed: same seed, same
bytes, byte-stable goldens.
"""

from __future__ import annotations

import numpy as np

from ..kernels.pbf_write import write_pbf

# Liechtenstein-ish bbox (the extract scale the evidence plan names)
BBOX = (9.47, 47.05, 9.64, 47.27)

_HIGHWAY = np.array(["motorway", "primary", "secondary", "tertiary",
                     "residential"])
_HIGHWAY_P = np.array([0.01, 0.04, 0.10, 0.15, 0.70])
_AMENITY = ["cafe", "restaurant", "school", "pharmacy", "bank", "fuel"]
_LANDUSE = ["forest", "residential", "meadow", "farmland", "industrial"]


def _octagon(cx, cy, r):
    ang = np.linspace(0.0, 2 * np.pi, 9)[:-1]
    return cx + r * np.cos(ang), cy + 0.7 * r * np.sin(ang)


def synth_country(seed: int = 42, scale: float = 1.0):
    """-> (nodes, ways, relations, bbox) entity lists sized by ``scale``.

    scale=1.0 ~= 1.0M nodes / 96k ways / 1.2k relations (Liechtenstein
    extract scale, ~20x monaco); scale=0.05 is a seconds-fast CI size
    with the identical structure.
    """
    rng = np.random.default_rng(seed)
    minlon, minlat, maxlon, maxlat = BBOX
    spanx, spany = maxlon - minlon, maxlat - minlat

    n_towns = 20
    towns = np.column_stack([
        rng.uniform(minlon + 0.1 * spanx, maxlon - 0.1 * spanx, n_towns),
        rng.uniform(minlat + 0.1 * spany, maxlat - 0.1 * spany, n_towns),
    ])

    def clustered(n, sigma=0.004):
        """80% gaussian around towns, 20% uniform — urban skew."""
        n_urban = int(n * 0.8)
        t = rng.integers(0, n_towns, n_urban)
        pts = towns[t] + rng.normal(0.0, sigma, (n_urban, 2))
        rest = np.column_stack([rng.uniform(minlon, maxlon, n - n_urban),
                                rng.uniform(minlat, maxlat, n - n_urban)])
        out = np.vstack([pts, rest])
        out[:, 0] = np.clip(out[:, 0], minlon, maxlon)
        out[:, 1] = np.clip(out[:, 1], minlat, maxlat)
        return out

    counts = {
        "filler": int(272_000 * scale),
        "poi": int(60_000 * scale),
        "place": max(int(200 * scale), 5),
        "road": int(30_000 * scale),
        "building": int(55_000 * scale),
        "landuse": max(int(8_000 * scale), 40),
        "water": max(int(2_000 * scale), 10),
        "inner": max(int(1_000 * scale), 10),
    }
    road_pts = 12

    nodes: list = []
    nid = 0

    def add_nodes(lons, lats, tags_fn=None):
        nonlocal nid
        first = nid + 1
        if tags_fn is None:
            for x, y in zip(lons.tolist(), lats.tolist()):
                nid += 1
                nodes.append((nid, x, y, None))
        else:
            for i, (x, y) in enumerate(zip(lons.tolist(), lats.tolist())):
                nid += 1
                nodes.append((nid, x, y, tags_fn(i)))
        return first

    # -- standalone nodes --
    p = clustered(counts["filler"], sigma=0.01)
    add_nodes(p[:, 0], p[:, 1])
    p = clustered(counts["poi"])
    am = rng.integers(0, len(_AMENITY), counts["poi"])
    add_nodes(p[:, 0], p[:, 1],
              lambda i: {"amenity": _AMENITY[am[i]], "name": f"poi {i}"})
    p = towns[np.arange(counts["place"]) % n_towns] \
        + rng.normal(0, 0.0005, (counts["place"], 2))
    add_nodes(p[:, 0], p[:, 1],
              lambda i: {"place": "town" if i < n_towns else "village",
                         "name": f"town {i}"})

    ways: list = []
    wid = 0

    # -- roads: persistent-direction random walks from town edges --
    n = counts["road"]
    start = clustered(n, sigma=0.006)
    theta = rng.uniform(0, 2 * np.pi, (n, 1)) + np.cumsum(
        rng.normal(0, 0.35, (n, road_pts - 1)), axis=1)
    theta = np.concatenate([theta[:, :1], theta], axis=1)
    step = rng.uniform(0.0004, 0.0012, (n, road_pts))
    lon = np.clip(start[:, :1] + np.cumsum(step * np.cos(theta), axis=1)
                  - step[:, :1] * np.cos(theta[:, :1]), minlon, maxlon)
    lat = np.clip(start[:, 1:2] + np.cumsum(0.7 * step * np.sin(theta),
                                            axis=1)
                  - 0.7 * step[:, :1] * np.sin(theta[:, :1]),
                  minlat, maxlat)
    hw = rng.choice(len(_HIGHWAY), n, p=_HIGHWAY_P)
    first = add_nodes(lon.ravel(), lat.ravel())
    for i in range(n):
        wid += 1
        base = first + i * road_pts
        ways.append((wid, list(range(base, base + road_pts)),
                     {"highway": str(_HIGHWAY[hw[i]]),
                      "name": f"road {i}"}))

    # -- buildings: closed axis-aligned rectangles --
    n = counts["building"]
    c = clustered(n, sigma=0.003)
    hx = rng.uniform(0.00004, 0.00015, n)
    hy = rng.uniform(0.00004, 0.00015, n)
    lon = np.column_stack([c[:, 0] - hx, c[:, 0] + hx,
                           c[:, 0] + hx, c[:, 0] - hx])
    lat = np.column_stack([c[:, 1] - hy, c[:, 1] - hy,
                           c[:, 1] + hy, c[:, 1] + hy])
    first = add_nodes(lon.ravel(), lat.ravel())
    for i in range(n):
        wid += 1
        base = first + i * 4
        ways.append((wid, [base, base + 1, base + 2, base + 3, base],
                     {"building": "yes"}))

    # -- landuse / water octagon areas (closed) + inner rings --
    area_specs = (
        ("landuse", counts["landuse"], 0.0008, 0.006,
         lambda i: {"landuse": _LANDUSE[i % len(_LANDUSE)]}),
        ("water", counts["water"], 0.0008, 0.004,
         lambda i: {"natural": "water"}),
        ("inner", counts["inner"], 0.0002, 0.0006, lambda i: None),
    )
    first_area_wid = {}
    for kind, n, rmin, rmax, tags_fn in area_specs:
        c = clustered(n, sigma=0.02)
        r = rng.uniform(rmin, rmax, n)
        first_area_wid[kind] = wid + 1
        for i in range(n):
            ox, oy = _octagon(c[i, 0], c[i, 1], r[i])
            base = add_nodes(np.clip(ox, minlon, maxlon),
                             np.clip(oy, minlat, maxlat))
            wid += 1
            ways.append((wid, list(range(base, base + 8)) + [base],
                         tags_fn(i)))

    # -- relations: multipolygons (landuse outer + inner ring) + routes --
    relations: list = []
    rid = 0
    n_mp = counts["inner"]
    for i in range(n_mp):
        rid += 1
        outer = first_area_wid["landuse"] + (i % counts["landuse"])
        inner = first_area_wid["inner"] + i
        relations.append((rid, [(1, outer, "outer"), (1, inner, "inner")],
                          {"type": "multipolygon",
                           "landuse": _LANDUSE[i % len(_LANDUSE)]}))
    n_routes = max(counts["road"] // 150, 2)
    for i in range(n_routes):
        rid += 1
        members = [(1, 1 + (i * 150 + k) % counts["road"], "")
                   for k in range(5)]
        relations.append((rid, members,
                          {"type": "route", "route": "road",
                           "name": f"route {i}"}))

    return nodes, ways, relations, BBOX


def write_synth_pbf(path: str, seed: int = 42, scale: float = 1.0) -> dict:
    """Generate + serialize; returns the write_pbf stats dict."""
    nodes, ways, relations, bbox = synth_country(seed=seed, scale=scale)
    return write_pbf(path, nodes, ways, relations, bbox)
