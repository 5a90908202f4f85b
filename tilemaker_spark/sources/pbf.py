"""Spark source for OSM PBF: blob-parallel decode into entity DataFrames.

The reference reads PBF with a 5-phase threaded scan over a blob index
(/root/reference/src/pbf_processor.cpp:506-749).  Spark shape: the blob
index (offset, size) is a tiny DataFrame; ``mapInPandas`` decodes blobs in
parallel on executors (one Arrow batch per blob); the result is three
DataFrames with the reference's entity schema (SURVEY.md §1.1).  Entity-type
phase pruning comes free: each entity table filters its own rows, and for
Sort.Type_then_ID files most blobs contain a single entity type so the
decode-and-discard cost is one pass, same as the reference's block
type-ranges.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import pbf as K

NODES_SCHEMA = "id long, lon double, lat double, tags map<string,string>"
WAYS_SCHEMA = "id long, refs array<long>, tags map<string,string>"
RELS_SCHEMA = (
    "id long, "
    "members array<struct<mtype: tinyint, ref: long, role: string>>, "
    "tags map<string,string>"
)


def _decode_blobs(batches: Iterator[pd.DataFrame], which: str):
    for pdf in batches:
        out_nodes, out_ways, out_rels = [], [], []
        for path, offset, size, kind in zip(
            pdf["path"], pdf["offset"], pdf["size"], pdf["kind"]
        ):
            if kind != "OSMData":
                continue
            raw = K.read_blob(path, K.BlobRef(int(offset), int(size), kind))
            ents = K.decode_block(raw)
            if which == "nodes":
                out_nodes.extend(ents.nodes)
            elif which == "ways":
                out_ways.extend(ents.ways)
            else:
                out_rels.extend(ents.relations)
        # NOTE: skip empty frames — pandas gives empty columns float64
        # dtype, which Arrow cannot convert to map/struct targets.
        if which == "nodes" and out_nodes:
            yield pd.DataFrame({
                "id": [n[0] for n in out_nodes],
                "lon": [n[1] for n in out_nodes],
                "lat": [n[2] for n in out_nodes],
                "tags": [n[3] for n in out_nodes],
            })
        elif which == "ways" and out_ways:
            yield pd.DataFrame({
                "id": [w[0] for w in out_ways],
                "refs": [w[1] for w in out_ways],
                "tags": [w[2] for w in out_ways],
            })
        elif which == "relations" and out_rels:
            yield pd.DataFrame({
                "id": [r[0] for r in out_rels],
                "members": [
                    [{"mtype": m[0], "ref": m[1], "role": m[2]}
                     for m in r[1]]
                    for r in out_rels
                ],
                "tags": [r[2] for r in out_rels],
            })


def _blob_entity_kinds(path: str, ref) -> set:
    ents = K.decode_block(K.read_blob(path, ref))
    kinds = set()
    if ents.nodes:
        kinds.add("n")
    if ents.ways:
        kinds.add("w")
    if ents.relations:
        kinds.add("r")
    return kinds


def blob_type_ranges(path: str) -> dict | None:
    """Per-entity blob index ranges for ``Sort.Type_then_ID`` files
    (reference src/pbf_processor.cpp:545-591): binary-search the data-blob
    list for the node->way and way->relation boundaries so each phase
    decodes only ~its third of the file — O(log n) driver-side blob
    decodes instead of a per-phase full scan.  Returns
    {"nodes"|"ways"|"relations": (lo, hi) inclusive blob positions} with
    one blob of slack at each boundary (the per-phase decoder filters
    entity kinds anyway), or None when the file is not type-sorted."""
    if "Sort.Type_then_ID" not in read_header(path).get("features", []):
        return None
    data = [r for r in K.scan_blobs(path) if r.kind == "OSMData"]
    n = len(data)
    if n == 0:
        return None
    memo: dict[int, set] = {}

    def kinds(i: int) -> set:
        if i not in memo:
            memo[i] = _blob_entity_kinds(path, data[i])
        return memo[i]

    def first_where(pred) -> int:
        lo, hi = 0, n  # smallest i with pred(i), else n
        while lo < hi:
            mid = (lo + hi) // 2
            if pred(kinds(mid)):
                hi = mid
            else:
                lo = mid + 1
        return lo

    first_wr = first_where(lambda s: "w" in s or "r" in s)
    first_r = first_where(lambda s: "r" in s)
    if not (first_wr <= first_r):
        return None  # inconsistent ordering — fall back to full scans
    return {
        "nodes": (0, min(first_wr, n - 1)),
        "ways": (max(first_wr - 1, 0), min(first_r, n - 1)),
        "relations": (max(first_r - 1, 0), n - 1),
    }


def read_pbf(spark: SparkSession, path: str, partitions: int | None = None):
    """-> (nodes, ways, relations) DataFrames decoded blob-parallel.
    For Sort.Type_then_ID files each entity table scans only its blob
    type-range (plus one boundary blob of slack) — the reference's block
    type-range pruning (src/pbf_processor.cpp:545-591)."""
    data = [r for r in K.scan_blobs(path) if r.kind == "OSMData"]
    ranges = blob_type_ranges(path)

    def phase(which: str, schema: str) -> DataFrame:
        refs = data
        if ranges is not None:
            lo, hi = ranges[which]
            refs = data[lo:hi + 1]
        parts = partitions or max(1, min(len(refs), 64))
        src = spark.createDataFrame(
            [(path, r.offset, r.size, r.kind) for r in refs],
            "path string, offset long, size long, kind string"
        ).repartition(parts)
        return src.mapInPandas(lambda it: _decode_blobs(it, which), schema)

    return (phase("nodes", NODES_SCHEMA), phase("ways", WAYS_SCHEMA),
            phase("relations", RELS_SCHEMA))


def read_pbf_multi(spark: SparkSession, paths: list[str],
                   partitions: int | None = None):
    """-> (nodes, ways, relations) unioned over several extracts.

    The reference accepts repeated --input and loads every file into the
    same entity stores before assembly (src/tilemaker.cpp:296-326) —
    merging adjacent-region extracts is routine.  Spark form: decode each
    file blob-parallel, ``unionByName``, then dedup by OSM id — border
    entities appear in more than one extract with identical data, so any
    one row wins (tags/geometry are equal by OSM id semantics).  One
    shuffle per entity table, on the compact id key."""
    parts = [read_pbf(spark, p, partitions) for p in paths]
    if len(parts) == 1:
        return parts[0]
    nodes, ways, rels = (list(t) for t in zip(*parts))

    def union_dedup(dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.dropDuplicates(["id"])

    return union_dedup(nodes), union_dedup(ways), union_dedup(rels)


def read_header(path: str) -> dict:
    for r in K.scan_blobs(path):
        if r.kind == "OSMHeader":
            return K.decode_header(K.read_blob(path, r))
    return {"bbox": None, "features": []}
