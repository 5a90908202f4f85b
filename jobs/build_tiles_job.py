"""spark-submit entry point: OSM source -> vector (and optional raster)
tiles, resumable, for multi-executor clusters.

The BASELINE north rule requires the pipeline to "run via spark-submit
--py-files on multi-executor clusters".  Package and submit:

    python tools/package_pyfiles.py          # -> dist/tilemaker_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/tilemaker_spark.zip \
        jobs/build_tiles_job.py \
        --input monaco.osm.pbf [--input neighbor.osm.pbf ...] \
        --output monaco.mbtiles \
        --maxzoom 14 [--bbox minlon,minlat,maxlon,maxlat] \
        [--raster-zoom 8] [--checkpoint /path/ckpt]

--input is repeatable: multiple extracts are unioned at the entity
level (id-deduplicated) before assembly, mirroring the reference's
repeated --input (src/tilemaker.cpp:296-326).

Unlike tilemaker_spark.session.get_spark (which pins master=local[N]
for tests, benches and tools), this entry takes the master from
spark-submit and sets only the shared engine config
(tilemaker_spark.session.ENGINE_CONF), so the same file runs on
local[*], YARN, or k8s.
Executors import tilemaker_spark from the shipped zip; nothing here
depends on the driver's filesystem layout.

With --checkpoint the tile write goes through lineage.CheckpointedSink
keyed by z6 subtree: a re-run after failure skips committed subtrees
(idempotent resume from the last committed snapshot), then the sink's
committed data is exported to the .mbtiles.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

try:  # running under spark-submit --py-files the zip provides the package;
    import tilemaker_spark  # noqa: F401  # a bare checkout run falls back
except ModuleNotFoundError:  # to the repo next to this file
    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _repo)
    # python workers inherit the env, not the driver's sys.path
    os.environ["PYTHONPATH"] = (
        _repo + os.pathsep + os.environ.get("PYTHONPATH", ""))


def read_features(spark: SparkSession, paths: list[str] | str,
                  skip_integrity: bool = True):
    """Dispatch on extension: .pbf -> decode + assemble + the
    openmaptiles-lite profile (returning ITS Config, which carries the
    layer definitions); .geojson/.json -> GeoJSON features; anything
    else -> pre-built FEATURE_SCHEMA parquet.  Returns (features, cfg);
    cfg is None when the source carries no layer config.

    Multiple .pbf inputs are unioned at the ENTITY level before assembly
    (reference: src/tilemaker.cpp:296-326 loads every --input into the
    same stores), so a relation in one extract can stitch ways from
    another; other formats union at the feature level."""
    if isinstance(paths, str):
        paths = [paths]
    pbfs = [p for p in paths if p.endswith(".pbf")]
    others = [p for p in paths if not p.endswith(".pbf")]
    frames, cfg = [], None
    if pbfs:
        from tilemaker_spark.operators.assembly import (
            assemble_relation_multipolygons, assemble_way_geometries)
        from tilemaker_spark.plans.profile import openmaptiles_lite
        from tilemaker_spark.sources import pbf as pbf_src
        nodes, ways, rels = pbf_src.read_pbf_multi(spark, pbfs)
        wg = assemble_way_geometries(ways, nodes,
                                     skip_integrity=skip_integrity)
        rg = assemble_relation_multipolygons(
            rels.filter("tags['type'] = 'multipolygon'"), wg)
        prof, cfg = openmaptiles_lite()
        frames.append(prof.apply(nodes=nodes, way_geoms=wg, rel_geoms=rg))
    for path in others:
        if path.endswith((".geojson", ".json")):
            from tilemaker_spark.sources.geojson import read_geojson
            frames.append(read_geojson(spark, path))
        else:
            frames.append(spark.read.parquet(path))
    features = frames[0]
    for f in frames[1:]:
        features = features.unionByName(f, allowMissingColumns=True)
    return features, cfg


# LayerDef.attr_types names -> TileJSON field types; other keys are String
_FIELD_TYPES = {"Integer": "Number", "Number": "Number", "Boolean": "Boolean"}


def vector_layers(cfg) -> list:
    """TileJSON ``vector_layers`` from the config, as the reference's
    LayerDefinition::serialiseToJSONValue (src/shared_data.cpp:184-209):
    one {id, fields, minzoom, maxzoom} per output layer, skipping layers
    that ``write_to`` another.  ``fields`` are the layer's declared
    attributes (``attr_types`` and ``attr_minzoom`` keys)."""
    return [{"id": name,
             "fields": {k: _FIELD_TYPES.get(ld.attr_types.get(k), "String")
                        for k in sorted({*ld.attr_types, *ld.attr_minzoom})},
             "minzoom": ld.minzoom, "maxzoom": ld.maxzoom}
            for name, ld in cfg.layers.items() if not ld.write_to]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, action="append",
                    help=".osm.pbf | .geojson | feature parquet dir "
                         "(repeatable: multiple extracts are unioned "
                         "before assembly, like the reference's repeated "
                         "--input)")
    ap.add_argument("--output", required=True,
                    help=".mbtiles | .pmtiles | z/x/y directory")
    ap.add_argument("--minzoom", type=int, default=0)
    ap.add_argument("--maxzoom", type=int, default=14)
    ap.add_argument("--bbox", default=None,
                    help="minlon,minlat,maxlon,maxlat clip box")
    ap.add_argument("--high-resolution", action="store_true")
    ap.add_argument("--merge", action="store_true",
                    help="feature-merge into an existing mbtiles")
    ap.add_argument("--raster-zoom", type=int, default=None,
                    help="also render PNG raster tiles at this zoom "
                         "(written next to the output as .raster.mbtiles)")
    ap.add_argument("--checkpoint", default=None,
                    help="lineage/checkpoint root for idempotent resume")
    ap.add_argument("--compact-checkpoint", action="store_true",
                    help="after the run, rewrite multi-file checkpoint "
                         "partitions into one file each (atomic REPLACE "
                         "snapshot; earlier as-of reads keep working)")
    ap.add_argument("--vacuum-checkpoint", action="store_true",
                    help="after the run (and any compaction), reclaim "
                         "data files no current snapshot references — "
                         "gives up time travel below the new horizon")
    # reference CLI parity (src/options_parser.cpp): --config overrides
    # tile settings from the reference's JSON shape; --skip-integrity
    # tolerates ways referencing missing nodes; --threads caps shuffle
    # parallelism (executor count itself is spark-submit's domain);
    # --quiet/--verbose set driver log level.  The reference's memory-
    # backend flags (--store/--compact/--shard-stores/
    # --materialize-geometries/--no-compress-*) have no Spark analogue:
    # executor storage is Spark-managed.
    ap.add_argument("--config", default=None,
                    help="reference-style JSON config; its settings "
                         "(minzoom/maxzoom/hires/compress/name) apply "
                         "unless overridden by the flags above")
    ap.add_argument("--skip-integrity", action="store_true",
                    help="keep ways that reference missing nodes, "
                         "built from the nodes found (default: drop "
                         "such ways)")
    ap.add_argument("--threads", type=int, default=None,
                    help="shuffle-partition cap (0/None = Spark default)")
    ap.add_argument("--quiet", action="store_true")
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args(argv)

    from tilemaker_spark.session import ENGINE_CONF
    spark = (SparkSession.builder.appName("tilemaker_spark_build")
             .config(map=ENGINE_CONF).getOrCreate())
    if args.quiet:
        spark.sparkContext.setLogLevel("ERROR")
    elif args.verbose:
        spark.sparkContext.setLogLevel("INFO")
    if args.threads:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.threads))
    from tilemaker_spark.config import Config, LayerDef
    from tilemaker_spark.kernels.proj import WORLD_BOUNDS
    from tilemaker_spark.operators.tiling import CLUSTER_ZOOM, generate_tiles
    from tilemaker_spark.sinks import mbtiles as MB

    features, cfg = read_features(spark, args.input,
                                  skip_integrity=args.skip_integrity)
    if args.config:
        file_cfg = Config.from_json(args.config)
        if cfg is not None and cfg.layers and not file_cfg.layers:
            file_cfg.layers = cfg.layers
        cfg = file_cfg
    if cfg is None:
        cfg = Config()
    cfg.minzoom = args.minzoom
    cfg.maxzoom = cfg.basezoom = args.maxzoom
    cfg.high_resolution = args.high_resolution
    if args.bbox:
        cfg.clip_bbox = tuple(float(v) for v in args.bbox.split(","))
    if not cfg.layers:
        # external feature tables carry no layer config: the tile
        # builder only emits layers it knows, so register each distinct
        # layer with defaults (one tiny collect of layer names)
        names = [r["layer"]
                 for r in features.select("layer").distinct().collect()]
        cfg.layers = {n: LayerDef(n, maxzoom=args.maxzoom) for n in names}

    tiles = generate_tiles(features, cfg)

    if args.checkpoint:
        from tilemaker_spark.lineage import CheckpointedSink
        sink = CheckpointedSink(args.checkpoint)
        # resume key: a tile's CLUSTER_ZOOM ancestor cell, and one extra
        # key for every lower zoom (the builder itself splits its work
        # finer, so this is only the unit a resumed run skips)
        cz = CLUSTER_ZOOM
        pk = F.when(
            F.col("z") >= cz,
            F.expr(f"shiftright(x, z - {cz}) * {1 << cz}"
                   f" + shiftright(y, z - {cz})"),
        ).otherwise(F.lit(-1)).cast("long")
        sink.write_partitioned(tiles.withColumn("pk", pk), "pk")
        if args.compact_checkpoint:
            c = sink.compact(spark)
            print(f"compacted {c['compacted_partitions']} checkpoint "
                  f"partitions (snapshot {c['snapshot_id']})")
        if args.vacuum_checkpoint:
            v = sink.vacuum()
            print(f"vacuumed {v['deleted_files']} checkpoint files "
                  f"(horizon {v['min_as_of']})")
        # a build with no tiles commits nothing, and an empty sink reads
        # back as a bare pk column: keep the (empty) tile frame then
        if sink.committed_keys():
            tiles = sink.read(spark).select("z", "x", "y", "tile")

    # one metadata block for every sink (reference src/shared_data.cpp:
    # 21-36); each sink applies its own format rules to it
    metadata = {"name": cfg.name, "format": "pbf",
                "minzoom": cfg.minzoom, "maxzoom": cfg.maxzoom,
                "bounds": list(cfg.clip_bbox or WORLD_BOUNDS),
                "vector_layers": vector_layers(cfg)}
    if args.output.endswith(".mbtiles"):
        n = MB.write_mbtiles(tiles, args.output, metadata, merge=args.merge)
    elif args.output.endswith(".pmtiles"):
        from tilemaker_spark.sinks.pmtiles import write_pmtiles
        n = write_pmtiles(tiles, args.output, metadata)
    else:
        from tilemaker_spark.sinks.filetree import write_filetree
        n = write_filetree(tiles, args.output, metadata)
    print(f"wrote {n} vector tiles -> {args.output}")

    if args.raster_zoom is not None:
        from tilemaker_spark.operators.raster import render_raster_tiles
        rt = render_raster_tiles(features, zoom=args.raster_zoom,
                                 clip_bbox=cfg.clip_bbox)
        rt = rt.withColumnRenamed("png", "tile")
        if args.checkpoint:
            # same idempotent-resume path as the vector tiles, separate
            # sink root so vector and raster commits don't collide
            from tilemaker_spark.lineage import CheckpointedSink
            rsink = CheckpointedSink(
                os.path.join(args.checkpoint, "raster"))
            rdz = max(0, args.raster_zoom - CLUSTER_ZOOM)
            rpk = (F.shiftright(F.col("x"), rdz) * (1 << CLUSTER_ZOOM)
                   + F.shiftright(F.col("y"), rdz)).cast("long")
            rsink.write_partitioned(rt.withColumn("pk", rpk), "pk")
            if rsink.committed_keys():
                rt = rsink.read(spark).select("z", "x", "y", "tile")
        rpath = os.path.splitext(args.output)[0] + ".raster.mbtiles"
        rn = MB.write_mbtiles(rt, rpath, metadata={"format": "png"})
        print(f"wrote {rn} raster tiles -> {rpath}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
