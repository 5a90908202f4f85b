"""Raster tile assembly: vector features -> PNG z/x/y tiles and back.

The BASELINE north star lists "raster<->vector tile assembly" as part of
the engine; the reference emits vector (MVT) tiles only, so this is the
graft half.  Spark shape mirrors the MVT pipeline exactly (same
cover -> shuffle-on-tile -> per-tile worker plan, operators/tiling.py):

- ``render_raster_tiles``: features (FEATURE_SCHEMA) -> (z, x, y, png).
  One ``cover_features`` pass assigns features to tiles (identical
  partitioning to the vector path, so at 100 TB both sinks share the
  same shuffle), then one ``applyInArrow`` renders each tile group with
  the numpy scanline kernels (kernels/raster.py) and encodes with the
  repo's own PNG codec.  Write with
  ``sinks.mbtiles.write_mbtiles(tiles.withColumnRenamed('png','tile'),
  path, metadata={'format': 'png'})``.
- ``raster_to_features``: (z, x, y, png) -> polygon features traced from
  the raster (marching-squares boundary chaining), geometry back in
  lon/lat — the inverse path, verified by round-trip area in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels import geom as G
from ..kernels import png as PNG
from ..kernels import proj as P
from ..kernels import raster as R
from .rows import rows_table
from .tiling import (FEATURE_ARROW, _to_tile_frac, cover_features,
                     expand_coarse)

RASTER_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int64()),
                          ("y", pa.int64()), ("png", pa.binary())])
TRACED_ARROW = pa.schema(list(RASTER_ARROW)[:3] + list(FEATURE_ARROW))


def _pixel_coords(flat: np.ndarray, z: int, x: int, y: int,
                  size: int) -> np.ndarray:
    """lon/lat flat pairs -> flat tile-local pixel coords (y down)."""
    return (_to_tile_frac(flat.reshape(-1, 2), z, x, y) * size).reshape(-1)


def render_raster_tiles(features: DataFrame, zoom: int,
                        size: int = 256,
                        clip_bbox: tuple | None = None) -> DataFrame:
    """Render FEATURE_SCHEMA features to (z int, x long, y long,
    png binary) raster tiles at one zoom.

    Same distributed shape as the MVT path: covering-tile explode (dual
    small/large path included), shuffle on (bx, by), one Python worker
    call per tile.  Geometry outside the canvas never smears: polygon
    spans are clamped by the scanline fill, lines are Liang-Barsky
    clipped to the canvas first, points are filtered.

    ``clip_bbox`` (minlon, minlat, maxlon, maxlat) is pruned inside the
    cover and its coarse refine, before the shuffle, as for the vector
    tiles, so --bbox runs emit clipped raster tiles too."""
    covered = expand_coarse(
        cover_features(features, base_zoom=zoom, bbox=clip_bbox), zoom,
        clip_bbox)

    def render_group(table):
        x, y = table.column("bx")[0].as_py(), table.column("by")[0].as_py()
        # paint in a fixed order, not in the order rows reached the group
        table = table.sort_by([("layer", "ascending"),
                               ("zorder", "ascending"),
                               ("feature_id", "ascending")])
        rows = []
        for kind, layer, coords, rs, prc in zip(
                np.asarray(table.column("kind")),
                table.column("layer").to_pylist(),
                *G.packed_views(table)):
            geom = G.unpack(kind, _pixel_coords(coords, zoom, x, y, size),
                            rs, prc)
            if kind == G.POLYGON:
                rows.append((layer, G.POLYGON, geom))
            elif kind in (G.LINESTRING, G.MULTILINESTRING):
                parts = G.clip_to_box(kind, geom, 0.0, 0.0, float(size),
                                      float(size))
                if parts:
                    rows.append((layer, G.LINESTRING, parts))
            else:
                inside = ((geom[:, 0] >= 0) & (geom[:, 0] < size)
                          & (geom[:, 1] >= 0) & (geom[:, 1] < size))
                if inside.any():
                    rows.append((layer, G.POINT, geom[inside]))
        canvas = R.render_features(rows, size=size)
        return rows_table([(zoom, x, y, PNG.encode_png(canvas))],
                          RASTER_ARROW)

    return (covered.groupBy("bx", "by")
            .applyInArrow(render_group, from_arrow_schema(RASTER_ARROW)))


def raster_to_features(tiles: DataFrame,
                       layer: str = "traced") -> DataFrame:
    """(z, x, y, png) -> traced polygon FEATURE_SCHEMA rows in lon/lat.

    Any non-background pixel counts as filled; rings come from the
    boundary tracer and are grouped into polygons with holes.  Linear in
    tiles (mapInArrow, no shuffle); feature_id = packed tile id so the
    output is deterministic."""
    def gen(batches):
        for batch in batches:
            out = []
            for z, x, y, png in zip(*(batch.column(c).to_pylist()
                                      for c in RASTER_ARROW.names)):
                pixels = PNG.decode_png(png)
                mask = pixels.any(axis=2)
                ph, pw = mask.shape    # tile size comes from the PNG
                polys = R.rings_to_multipolygon(R.trace_mask(mask))
                if not polys:
                    continue
                flat, rs, pc = [], [], []
                signed_px = 0.0
                for poly in polys:
                    pc.append(len(poly))
                    for ring in poly:
                        # traced-ring shoelace in PIXEL coords: equals
                        # the filled pixel count (rings are rectilinear
                        # on cell edges; outers negative in y-down
                        # coords, holes positive)
                        signed_px += G.signed_ring_area_planar(ring)
                        lon = P.tilex2lon(x + ring[:, 0] / pw, z)
                        lat = P.latp2lat(P.tiley2latp(y + ring[:, 1] / ph,
                                                      z))
                        flat.append(np.column_stack([lon, lat]).reshape(-1))
                        rs.append(len(ring))
                # traced area is exposed for oracle checks: for
                # axis-aligned inputs it has a closed-form SQL twin
                out.append((z, x, y, (z << 58) | (x << 29) | y, layer,
                            G.POLYGON, 0, 0,
                            {"area_px": str(int(round(-signed_px)))},
                            np.concatenate(flat), rs, pc))
            yield from rows_table(out, TRACED_ARROW).to_batches()

    return tiles.mapInArrow(gen, from_arrow_schema(TRACED_ARROW))
