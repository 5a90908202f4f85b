"""WKB geometry-column ingestion — the GeoParquet interop path.

Geo data lakes ship geometry as WKB binary columns (GeoParquet's only
required encoding); the reference engine ingests shapefiles/GeoJSON
(`/root/reference/src/shp_processor.cpp`, `src/geojson_processor.cpp`)
but a Spark-native engine must also accept the columnar lake format
directly.  These readers convert ISO WKB blobs into this repo's
internal geometry conventions (points -> lon/lat doubles; polygons ->
the flat closed-ring ``coords array<double>`` that
operators/spatial_join and kernels/geom consume), so a GeoParquet table
drops straight into the PIP / kNN / tiling operators.

Parsing is Arrow-batched: the fixed-width point case is a single
vectorized reshape of the batch's binary values buffer (no per-row
Python in the common path); variable-length polygons parse per row
(``operators.rows.map_rows``), but each iteration is a whole-geometry
decode — codec work, not row-at-a-time overhead.  Both byte orders
(00 big / 01 little) are supported, as ISO WKB requires.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..operators.rows import map_rows, row_udf


_WKB_POINT = 1
_WKB_POLYGON = 3


def wkb_point(lon: float, lat: float, little: bool = True) -> bytes:
    """Serialize one ISO WKB point (21 bytes) — the writer half used by
    tests and the synthetic driver fixture."""
    e = "<" if little else ">"
    return (b"\x01" if little else b"\x00") + struct.pack(
        f"{e}Idd", _WKB_POINT, lon, lat)


def wkb_polygon(rings: list[list[tuple[float, float]]],
                little: bool = True) -> bytes:
    """Serialize one ISO WKB polygon (rings must be closed)."""
    e = "<" if little else ">"
    out = [(b"\x01" if little else b"\x00"),
           struct.pack(f"{e}II", _WKB_POLYGON, len(rings))]
    for ring in rings:
        out.append(struct.pack(f"{e}I", len(ring)))
        for x, y in ring:
            out.append(struct.pack(f"{e}dd", x, y))
    return b"".join(out)


def points_from_wkb(df: DataFrame, wkb_col: str = "wkb",
                    id_col: str = "geom_id") -> DataFrame:
    """(id, wkb) -> (id, lon, lat).  Fast path: every ISO WKB point is
    exactly 21 bytes, so a whole Arrow batch parses as ONE numpy
    reshape + two masked dtype views (little/big endian) — zero per-row
    Python.  Blobs that are not 21-byte point geometries raise (feed
    mixed tables through a geometry-type filter first)."""
    id_type = dict((f.name, f.dataType.simpleString())
                   for f in df.schema.fields)[id_col]
    schema = f"{id_col} {id_type}, lon double, lat double"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, blobs = batch.columns
            n = len(blobs)
            if not n:
                continue
            # a null blob has no bytes, so the offsets catch it too
            _, offs, data = blobs.buffers()
            off = np.frombuffer(offs, np.int32)[blobs.offset:][:n + 1]
            lens = np.diff(off)
            if (lens != 21).any():
                bad = lens[lens != 21][0]
                raise ValueError(
                    f"non-point WKB blob (len {bad} != 21) in {wkb_col}")
            arr = np.frombuffer(data, np.uint8, 21 * n, off[0]).reshape(-1, 21)
            little = arr[:, 0] == 1
            gtype = np.where(
                little,
                arr[:, 1:5].copy().view("<u4")[:, 0],
                arr[:, 1:5].copy().view(">u4")[:, 0])
            if not (gtype == _WKB_POINT).all():
                raise ValueError("WKB blob is not a point geometry")
            le = arr[:, 5:21].copy().view("<f8")
            be = arr[:, 5:21].copy().view(">f8")
            lon = np.where(little, le[:, 0], be[:, 0])
            lat = np.where(little, le[:, 1], be[:, 1])
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(lon), pa.array(lat)],
                names=[id_col, "lon", "lat"])

    return df.select(id_col, wkb_col).mapInArrow(run, schema)


def _parse_polygon(blob: bytes) -> tuple[list[float], list[int]]:
    little = blob[0] == 1
    e = "<" if little else ">"
    (gtype, n_rings) = struct.unpack_from(f"{e}II", blob, 1)
    if gtype != _WKB_POLYGON:
        raise ValueError(f"WKB type {gtype} is not a polygon")
    coords: list[float] = []
    sizes: list[int] = []
    off = 9
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from(f"{e}I", blob, off)
        off += 4
        ring = np.frombuffer(blob, f"{e}f8", n_pts * 2, off)
        off += n_pts * 16
        if n_pts and (ring[0] != ring[-2] or ring[1] != ring[-1]):
            raise ValueError("WKB polygon ring is not closed")
        coords.extend(float(v) for v in ring)
        sizes.append(n_pts)
    return coords, sizes


def polygons_from_wkb(df: DataFrame, wkb_col: str = "wkb",
                      id_col: str = "poly_id") -> DataFrame:
    """(id, wkb) -> (poly_id, coords array<double>, ring_sizes
    array<int>) in the internal flat closed-ring layout (outer rings
    and holes concatenated, every ring closed, per-ring point counts —
    operators/spatial_join.py:26,47) so parsed polygon layers feed the
    PIP/covering joins unchanged."""
    id_type = dict((f.name, f.dataType.simpleString())
                   for f in df.schema.fields)[id_col]
    schema = f"{id_col} {id_type}, coords array<double>, ring_sizes array<int>"

    return map_rows(df, [id_col, wkb_col], schema,
                    lambda i, blob: [(i, *_parse_polygon(blob))])


def wkb_point_col(id_col, lon_col, lat_col):
    """Column of ISO WKB point blobs from (id, lon, lat) — the writer
    side for tests/fixtures; every 3rd id is big-endian so both byte
    orders flow through parse paths."""
    return row_udf("binary", lambda i, lo, la: wkb_point(
        lo, la, little=i % 3 != 0), id_col, lon_col, lat_col)


def wkb_box_col(id_col, minlon, minlat, maxlon, maxlat):
    """Column of ISO WKB polygon blobs for axis-aligned boxes (closed
    CCW ring) — fixture writer; every 3rd id big-endian."""
    def pack(i, lo, la, hi, ha):
        ring = [(lo, la), (hi, la), (hi, ha), (lo, ha), (lo, la)]
        return wkb_polygon([ring], little=i % 3 != 0)

    return row_udf("binary", pack, id_col, minlon, minlat, maxlon, maxlat)
