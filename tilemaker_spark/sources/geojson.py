"""GeoJSON source -> packed-ring feature rows.

The reference reads FeatureCollection or newline-delimited GeoJSON with
parallel newline-chunked JSONL (/root/reference/src/geojson_processor.cpp:
17-77).  Spark's ``spark.read.json`` IS that chunked-parallel JSONL read;
this module just maps GeoJSON geometry to the engine's packed-ring
schema with column expressions + one Arrow UDF for ring packing.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import geom as G

PACKED_SCHEMA = ("kind tinyint, coords array<double>, ring_sizes array<int>,"
                 " poly_ring_counts array<int>")


def _pack_geometry(gtype: str, coords) -> tuple:
    if gtype == "Point":
        return (G.POINT, [float(coords[0]), float(coords[1])], [1], [])
    if gtype == "MultiPoint":
        flat = [float(v) for pt in coords for v in pt[:2]]
        return (G.POINT, flat, [len(coords)], [])
    if gtype == "LineString":
        flat = [float(v) for pt in coords for v in pt[:2]]
        return (G.LINESTRING, flat, [len(coords)], [])
    if gtype == "MultiLineString":
        flat = [float(v) for line in coords for pt in line for v in pt[:2]]
        return (G.MULTILINESTRING, flat, [len(l) for l in coords], [])
    if gtype == "Polygon":
        mp = [coords]
    elif gtype == "MultiPolygon":
        mp = coords
    else:
        raise ValueError(f"unsupported geometry {gtype}")
    flat, sizes, counts = [], [], []
    for poly in mp:
        counts.append(len(poly))
        for ring in poly:
            sizes.append(len(ring))
            flat.extend(float(v) for pt in ring for v in pt[:2])
    return (G.POLYGON, flat, sizes, counts)


def _feature_id(ft: dict):
    """A Feature's ``"id"`` as an int, or None when it has none or it is
    not an integer (RFC 7946 also allows string ids such as
    ``"way/123"``)."""
    fid = ft.get("id")
    if isinstance(fid, str) and fid.isascii() and fid.isdigit():
        fid = int(fid)
    if (isinstance(fid, bool) or not isinstance(fid, int)
            or not -2**63 <= fid < 2**63):
        return None
    return fid


def read_geojson(spark: SparkSession, path: str, layer: str = "geojson",
                 minzoom: int = 0, attribute_function=None) -> DataFrame:
    """JSONL (one Feature per line) or FeatureCollection file -> features
    DataFrame in the engine's schema.  JSONL path is fully distributed
    (spark.read.text per-line parse); FeatureCollection falls back to a
    driver-side parse (it is one JSON document by construction).

    A JSONL feature without an integer ``"id"`` gets a non-negative
    63-bit hash of its file path and line text as its id, the same
    however the read splits the file; two identical id-less lines in one
    file are therefore one feature.

    ``attribute_function(attrs, layer) -> dict`` remaps each feature's
    properties (reference src/shp_processor.cpp:47-84 — same hook as the
    shapefile source); a returned ``_minzoom`` key sets the feature's
    minzoom.  In the JSONL path the callable ships to the workers, so it
    must be picklable."""
    from .remap import apply_attribute_function

    head = spark.read.text(path).limit(1).collect()
    first = head[0]["value"].lstrip() if head else ""
    if first.startswith("{") and '"FeatureCollection"' in first:
        with open(path) as f:
            doc = json.load(f)
        feats = doc.get("features", [])
        # (feature_id, layer) is a feature's identity in the tile build:
        # number by index unless every feature has its own integer id
        ids = [_feature_id(ft) for ft in feats]
        if None in ids or len(set(ids)) < len(ids):
            ids = range(len(feats))
        rows = []
        for fid, ft in zip(ids, feats):
            kind, flat, sizes, counts = _pack_geometry(
                ft["geometry"]["type"], ft["geometry"]["coordinates"])
            props, fmz = apply_attribute_function(
                ft.get("properties") or {}, layer, minzoom,
                attribute_function)
            rows.append((fid, layer, kind, fmz, 0, props, flat, sizes,
                         counts))
        from ..operators.tiling import FEATURE_SCHEMA
        return spark.createDataFrame(rows, FEATURE_SCHEMA)

    lines = spark.read.text(path).withColumn(
        "__lid", F.xxhash64(F.input_file_name(), "value")
        .bitwiseAND(F.lit(2**63 - 1)))

    def parse(batches):
        from ..operators.tiling import FEATURE_SCHEMA  # noqa: F401
        for pdf in batches:
            out = {k: [] for k in ("feature_id", "layer", "kind", "minzoom",
                                   "zorder", "attrs", "coords", "ring_sizes",
                                   "poly_ring_counts")}
            for line, lid in zip(pdf["value"], pdf["__lid"]):
                line = line.strip().rstrip(",")
                if not line or line in ("[", "]"):
                    continue
                ft = json.loads(line)
                if ft.get("type") != "Feature":
                    continue
                kind, flat, sizes, counts = _pack_geometry(
                    ft["geometry"]["type"], ft["geometry"]["coordinates"])
                props, fmz = apply_attribute_function(
                    ft.get("properties") or {}, layer, minzoom,
                    attribute_function)
                fid = _feature_id(ft)
                out["feature_id"].append(lid if fid is None else fid)
                out["layer"].append(layer)
                out["kind"].append(kind)
                out["minzoom"].append(fmz)
                out["zorder"].append(0)
                out["attrs"].append(props)
                out["coords"].append(flat)
                out["ring_sizes"].append(sizes)
                out["poly_ring_counts"].append(counts)
            if out["feature_id"]:
                yield pd.DataFrame(out)

    from ..operators.tiling import FEATURE_SCHEMA
    return lines.mapInPandas(parse, schema=FEATURE_SCHEMA)


def write_geojson(features: DataFrame, path: str) -> None:
    """Debug writer (reference include/geojson_writer.h): features ->
    JSONL of GeoJSON Features (driver-side; debugging tool)."""
    with open(path, "w") as f:
        for r in features.toLocalIterator():
            kind = r["kind"]
            geom = G.unpack(kind, r["coords"], r["ring_sizes"],
                            r["poly_ring_counts"])
            if kind == G.POINT:
                geom = ({"type": "Point", "coordinates": geom[0].tolist()}
                        if len(geom) == 1 else
                        {"type": "MultiPoint", "coordinates": geom.tolist()})
            elif kind == G.LINESTRING and len(geom) == 1:
                geom = {"type": "LineString",
                        "coordinates": geom[0].tolist()}
            elif kind in (G.LINESTRING, G.MULTILINESTRING):
                geom = {"type": "MultiLineString",
                        "coordinates": [l.tolist() for l in geom]}
            else:
                geom = {"type": "MultiPolygon",
                        "coordinates": [[rg.tolist() for rg in poly]
                                        for poly in geom]}
            f.write(json.dumps({
                "type": "Feature", "id": r["feature_id"],
                "properties": dict(r["attrs"] or {}), "geometry": geom,
            }) + "\n")
