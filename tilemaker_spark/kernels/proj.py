"""Projection and tile-coordinate math (vectorized numpy).

Semantics mirror the reference engine's coordinate layer
(/root/reference/src/coordinates.cpp:18-49 and include/coordinates.h:94-119):
spherical-Mercator "latp" projection with latitude clamped to +/-85.06 for
the forward projection, WebMercator z/x/y tiling, and meter<->degree
conversion at latitude using a spherical earth of radius 6,371,000 m.

All functions accept scalars or numpy arrays and return numpy arrays
(float64 / int64).  These are the ground-truth kernels; the Spark column
-expression equivalents live in ``tilemaker_spark.sql.tile_exprs`` and are
unit-tested against these.
"""

from __future__ import annotations

import numpy as np

RADIUS_METER = 6371000.0  # mean earth radius, reference include/coordinates.h:119
MAX_LAT = 85.0511         # reference include/coordinates.h:94
CLAMP_LAT = 85.06         # forward-projection clamp, reference src/coordinates.cpp:23


def lat2latp(lat):
    """Spherical-Mercator projected latitude (reference src/coordinates.cpp:23)."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -CLAMP_LAT, CLAMP_LAT)
    return np.degrees(np.log(np.tan(np.radians(lat + 90.0) / 2.0)))


def latp2lat(latp):
    """Inverse of :func:`lat2latp` (reference src/coordinates.cpp:24)."""
    latp = np.asarray(latp, dtype=np.float64)
    return np.degrees(np.arctan(np.exp(np.radians(latp))) * 2.0) - 90.0


def lon2tilexf(lon, z):
    """Fractional tile x at zoom z (reference src/coordinates.cpp:27)."""
    return (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * np.float64(2.0) ** z


def latp2tileyf(latp, z):
    """Fractional tile y at zoom z from projected lat (src/coordinates.cpp:28)."""
    return (180.0 - np.asarray(latp, dtype=np.float64)) / 360.0 * np.float64(2.0) ** z


def lat2tileyf(lat, z):
    return latp2tileyf(lat2latp(lat), z)


def lon2tilex(lon, z):
    return np.floor(lon2tilexf(lon, z)).astype(np.int64)


def lat2tiley(lat, z):
    return np.floor(lat2tileyf(lat, z)).astype(np.int64)


def tilex2lon(x, z):
    return np.asarray(x, dtype=np.float64) / np.float64(2.0) ** z * 360.0 - 180.0


def tiley2latp(y, z):
    return 180.0 - np.asarray(y, dtype=np.float64) / np.float64(2.0) ** z * 360.0


def tiley2lat(y, z):
    return latp2lat(tiley2latp(y, z))


def meter2degp(meter, latp):
    """Meters -> projected degrees at latp (src/coordinates.cpp:48)."""
    return np.degrees(
        np.asarray(meter, dtype=np.float64)
        / RADIUS_METER
        / np.cos(np.radians(latp2lat(latp)))
    )


# ---------------------------------------------------------------------------
# Tile / cell ids.
#
# The reference clusters all object state by zoom-6 ancestor tile
# (CLUSTER_ZOOM, include/tile_data_base.h:10-12).  We generalise that into a
# "cell id": a single int64 encoding (z, x, y) so DataFrames can be
# partitioned / joined on one key.  Layout: z in the high bits, then x, y
# each packed in z bits — equivalent to a quadkey prefix ordering, and the
# engine's stand-in for coarse H3/S2 cells (no H3 lib in this environment;
# WebMercator tiles give the same hierarchical-cover semantics).
# ---------------------------------------------------------------------------

def tile_id(z, x, y):
    """Pack (z, x, y) into one int64: (1<<(2z)) + x*2^z + y  (injective)."""
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (np.int64(1) << (2 * z)) + (x << z) + y


def tile_id_unpack(tid):
    """Inverse of :func:`tile_id` -> (z, x, y)."""
    tid = np.asarray(tid, dtype=np.int64)
    z = (np.floor(np.log2(tid.astype(np.float64))) // 2).astype(np.int64)
    rem = tid - (np.int64(1) << (2 * z))
    x = rem >> z
    y = rem - (x << z)
    return z, x, y


def cell_id(lon, lat, cell_zoom=6):
    """Coarse-cell id of a point (the H3-coarse analogue; CLUSTER_ZOOM=6).

    Clamped to the valid tile range — lon=180 / |lat|>85.0511 land in the
    edge cell rather than out of range.
    """
    m = np.int64((1 << cell_zoom) - 1)
    x = np.clip(lon2tilex(lon, cell_zoom), 0, m)
    y = np.clip(lat2tiley(np.clip(np.asarray(lat, np.float64), -MAX_LAT, MAX_LAT),
                          cell_zoom), 0, m)
    return tile_id(cell_zoom, x, y)


def zorder_encode(v):
    """Reference ZOrder value compression (include/output_object.h:54-62):
    |v|<=1000 -> v*10; beyond, sqrt-compressed into int16 range."""
    v = np.asarray(v, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        out = np.where(
            v > 1000.0,
            np.sqrt((v - 1000.0) * 10.0) + 10000.0,
            np.where(
                v < -1000.0, -10000.0 - np.sqrt((np.abs(v) - 1000.0) * 10.0), v * 10.0
            ),
        )
    out = np.where(np.isfinite(out), np.floor(out), 0.0)
    return out.astype(np.int64)


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters on the R=6371000 sphere.

    Matches the reference's Length() strategy (haversine over RadiusMeter,
    src/osm_lua_processing.cpp:581-590) but in float64 end-to-end.
    """
    lon1 = np.radians(np.asarray(lon1, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat1, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon2, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * RADIUS_METER * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
