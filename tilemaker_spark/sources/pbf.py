"""Spark source for OSM PBF: blob-parallel decode into entity DataFrames.

The reference reads PBF with a 5-phase threaded scan over a blob index
(reference src/pbf_processor.cpp:506-749).  Spark shape: the
``OSMData`` blobs of every input file form one tiny blob-ref table
(path, offset, size); three ``mapInArrow`` phases over it decode the
nodes, the ways and the relations, each phase decoding only its own
kind's primitive groups (``kernels.pbf.decode_block(raw, kind)``) and
skipping the rest by field number.  Every phase reads every blob, so no
file ordering (``Sort.Type_then_ID``) is assumed and no blob is probed
while the plan is built; a skipped blob costs its string table and a
walk over its group headers.  The result is three DataFrames with the
reference's entity schema (SURVEY.md §1.1).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels import pbf as K

_TAGS = pa.map_(pa.string(), pa.string())
ARROW_SCHEMAS = {
    "nodes": pa.schema([("id", pa.int64()), ("lon", pa.float64()),
                        ("lat", pa.float64()), ("tags", _TAGS)]),
    "ways": pa.schema([("id", pa.int64()), ("refs", pa.list_(pa.int64())),
                       ("tags", _TAGS)]),
    "relations": pa.schema([
        ("id", pa.int64()),
        ("members", pa.list_(pa.struct([("mtype", pa.int8()),
                                        ("ref", pa.int64()),
                                        ("role", pa.string())]))),
        ("tags", _TAGS)]),
}


def _decode_blobs(batches, kind: str):
    """Blob-ref batches -> one entity batch of ``kind`` per blob that holds
    any; ``pa.array`` takes the decoder's tag dicts and member tuples
    as they are."""
    schema = ARROW_SCHEMAS[kind]
    for refs in batches:
        d = refs.to_pydict()
        for path, offset, size in zip(d["path"], d["offset"], d["size"]):
            raw = K.read_blob(path, K.BlobRef(offset, size, "OSMData"))
            rows = getattr(K.decode_block(raw, kind), kind)
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(zip(*rows), schema)],
                    schema=schema)


def read_pbf_multi(spark: SparkSession, paths: list[str]):
    """-> (nodes, ways, relations) DataFrames decoded blob-parallel over
    one or more extracts.

    The reference accepts repeated --input and loads every file into the
    same entity stores before assembly (src/tilemaker.cpp:296-326) —
    merging adjacent-region extracts is routine.  Border entities appear
    in more than one extract with identical data, so with several inputs
    each table is deduplicated by OSM id (any one row wins: tags and
    geometry are equal by OSM id semantics)."""
    refs = [(p, r) for p in paths
            for r in K.scan_blobs(p) if r.kind == "OSMData"]
    # an Arrow table converts in the driver: no Python worker starts
    refs = pa.table({
        "path": pa.array([p for p, _ in refs], pa.string()),
        "offset": pa.array([r.offset for _, r in refs], pa.int64()),
        "size": pa.array([r.size for _, r in refs], pa.int64())})
    # Keep this shuffle: AQE plans the way ⋈ node joins from its runtime
    # statistics; without it read_features -> count() on the seed-42
    # synth extract took 23 Spark jobs instead of 14 and ran about 2x
    # slower warm.  ROADMAP item 3 records the broadcast hazard it brings.
    # At most one task per core: every phase reads every blob, and a
    # second wave of near-empty tasks costs more than the decodes.
    cores = spark.sparkContext.defaultParallelism
    src = spark.createDataFrame(refs).repartition(
        max(1, min(refs.num_rows, cores)))

    def phase(kind: str) -> DataFrame:
        df = src.mapInArrow(lambda it: _decode_blobs(it, kind),
                            from_arrow_schema(ARROW_SCHEMAS[kind]))
        return df.dropDuplicates(["id"]) if len(paths) > 1 else df

    return phase("nodes"), phase("ways"), phase("relations")
