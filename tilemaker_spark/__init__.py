"""tilemaker_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing capabilities of
systemed/tilemaker (reference at /root/reference, studied for behavior only):
OSM entity tables -> geometry assembly -> per-layer feature transform ->
spatial joins (point-in-polygon, covered-by, kNN) -> z/x/y tile assembly
(clip, simplify, combine, MVT encode) -> mbtiles / pmtiles / file-tree sinks.

Architecture is Spark-first: DataFrame/SQL plans with Catalyst-optimizable
column expressions for all tile math (see ``tilemaker_spark.sql.tile_exprs``),
and Python only for genuinely non-relational kernels (ring stitching,
clipping, MVT encode, image and media codecs), always over whole Arrow
batches (the tile, spatial-join and blob paths through ``mapInArrow`` /
``applyInArrow``); no plan holds a row-at-a-time Python UDF.
"""

__version__ = "0.1.0"
