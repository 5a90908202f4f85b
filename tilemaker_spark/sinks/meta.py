"""vector_layers metadata (TileJSON), from config or inferred from tiles.

Reference: LayerDefinition::serialiseToJSONValue
(/root/reference/src/shared_data.cpp:184-209) emits one entry per output
layer — ``{id, fields (name -> String|Number|Boolean), minzoom,
maxzoom}`` — skipping layers that ``write_to`` another; mbtiles/pmtiles
store it under the ``json`` metadata key and most map clients require it.

Two builders:
* :func:`vector_layers` — static, from the Config (+ optional declared
  field types), mirroring the reference exactly;
* :func:`infer_vector_layers` — Spark-side aggregation over the actual
  encoded tiles (decode MVT layers per tile, union key->type per layer),
  for pipelines whose attribute sets aren't declared up front.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Config
from ..kernels import mvt as M


def vector_layers(cfg: Config,
                  fields: dict[str, dict[str, str]] | None = None) -> list:
    """Static vector_layers array from the config (reference semantics:
    skip write_to layers; field types String/Number/Boolean)."""
    fields = fields or {}
    out = []
    for name, ld in cfg.layers.items():
        if ld.write_to:
            continue
        out.append({
            "id": name,
            "fields": dict(fields.get(name, {})),
            "minzoom": ld.minzoom,
            "maxzoom": ld.maxzoom,
        })
    return out


def _mvt_value_type(v) -> str:
    if isinstance(v, bool):
        return "Boolean"
    if isinstance(v, (int, float)):
        return "Number"
    return "String"


def infer_vector_layers(tiles: DataFrame) -> list:
    """Aggregate (layer, field -> type, minzoom, maxzoom) from encoded
    tiles: decode each tile's layer/keys in an Arrow batch, aggregate
    JVM-side, collect the (tiny) per-layer summary."""
    schema = "layer string, z int, key string, vtype string"

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            layers, zs, keys, vts = [], [], [], []
            for z, blob in zip(pdf["z"], pdf["tile"]):
                dec = M.decode_tile(bytes(blob))
                for name, layer in dec.items():
                    seen = set()
                    for f in layer["features"]:
                        for k, v in f["attrs"].items():
                            t = _mvt_value_type(v)
                            if (k, t) in seen:
                                continue
                            seen.add((k, t))
                            layers.append(name); zs.append(int(z))
                            keys.append(k); vts.append(t)
                    if not layer["features"]:
                        layers.append(name); zs.append(int(z))
                        keys.append(None); vts.append(None)
            yield pd.DataFrame(
                {"layer": layers, "z": zs, "key": keys, "vtype": vts})

    rows = tiles.select("z", "tile").mapInPandas(scan, schema=schema)
    zooms = rows.groupBy("layer").agg(
        F.min("z").alias("minzoom"), F.max("z").alias("maxzoom"))
    # mixed types for one key degrade to String (safe superset)
    fields = (
        rows.filter(F.col("key").isNotNull())
        .groupBy("layer", "key")
        .agg(F.collect_set("vtype").alias("types"))
        .withColumn(
            "vtype",
            F.when(F.size("types") > 1, F.lit("String"))
            .otherwise(F.element_at("types", 1)))
        .groupBy("layer")
        .agg(F.map_from_arrays(
            F.collect_list("key"), F.collect_list("vtype")).alias("fields"))
    )
    merged = zooms.join(fields, on="layer", how="left").collect()
    return [
        {"id": r["layer"], "fields": dict(r["fields"] or {}),
         "minzoom": int(r["minzoom"]), "maxzoom": int(r["maxzoom"])}
        for r in sorted(merged, key=lambda r: r["layer"])
    ]
