"""OSM PBF encoder, pure Python + numpy (public OSM PBF format spec).

The inverse of :mod:`tilemaker_spark.kernels.pbf`: packs (id, lon, lat,
tags) nodes, (id, refs, tags) ways and (id, members, tags) relations into
``OSMHeader`` / ``OSMData`` blobs — DenseNodes with delta coding, per-block
string tables, zlib blob compression — exactly the wire format the decoder
(and the reference's reader, /root/reference/include/pbf_reader.h) consumes.
Reimplemented from the published .proto definitions (osmformat.proto /
fileformat.proto are public domain); the protobuf wire encoding is
:mod:`tilemaker_spark.kernels.wire`, no protobuf library needed.

Purpose: synthesize deterministic country-scale fixtures (~1M nodes) for
end-to-end tests without network access — the sandbox cannot download a
real Geofabrik extract.  The hot integer arrays (dense node ids/lats/lons,
way refs) are packed with the vectorized numpy varint encoder
(:func:`~tilemaker_spark.kernels.wire.pack_uvarints`), so writing a
million nodes takes seconds, not minutes.

Files are written in ``Sort.Type_then_ID`` order (all node blobs, then way
blobs, then relation blobs) and declare that optional feature, like a real
planet extract; each blob holds one entity kind.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .wire import (field_bytes, field_varint, pack_svarints, pack_uvarints,
                   zigzag)

_GRANULARITY = 100  # nanodegrees per unit — the default every encoder uses


def _delta(vals: np.ndarray) -> np.ndarray:
    v = np.asarray(vals, dtype=np.int64)
    d = v.copy()
    d[1:] = v[1:] - v[:-1]
    return d


# ---------------- string tables ----------------

class _StringTable:
    """Per-block string table; index 0 is the empty string (spec
    convention — dense keys_vals uses 0 as the per-node delimiter)."""

    def __init__(self):
        self.strings: list[str] = [""]
        self.index: dict[str, int] = {"": 0}

    def add(self, s: str) -> int:
        i = self.index.get(s)
        if i is None:
            i = len(self.strings)
            self.strings.append(s)
            self.index[s] = i
        return i

    def encode(self) -> bytes:
        return b"".join(
            field_bytes(1, s.encode("utf-8")) for s in self.strings)


# ---------------- primitive blocks ----------------

def encode_dense_block(nodes: list) -> bytes:
    """[(id, lon, lat, tags)] -> PrimitiveBlock bytes (one DenseNodes
    group).  Coordinates are rounded to the standard 100-nanodegree
    granularity with zero offsets."""
    st = _StringTable()
    ids = np.array([n[0] for n in nodes], dtype=np.int64)
    lons = np.round(np.array([n[1] for n in nodes]) * (1e9 / _GRANULARITY)
                    ).astype(np.int64)
    lats = np.round(np.array([n[2] for n in nodes]) * (1e9 / _GRANULARITY)
                    ).astype(np.int64)
    kvs: list[int] = []
    any_tags = False
    for n in nodes:
        tags = n[3] if len(n) > 3 else None
        if tags:
            any_tags = True
            for k, v in tags.items():
                kvs.append(st.add(k))
                kvs.append(st.add(v))
        kvs.append(0)
    dense = (field_bytes(1, pack_svarints(_delta(ids)))
             + field_bytes(8, pack_svarints(_delta(lats)))
             + field_bytes(9, pack_svarints(_delta(lons))))
    if any_tags:
        dense += field_bytes(10, pack_uvarints(np.array(kvs,
                                                        dtype=np.uint64)))
    group = field_bytes(2, dense)
    return (field_bytes(1, st.encode()) + field_bytes(2, group)
            + field_varint(17, _GRANULARITY))


def encode_way_block(ways: list) -> bytes:
    """[(id, refs, tags)] -> PrimitiveBlock bytes (one group of Ways)."""
    st = _StringTable()
    msgs = []
    for wid, refs, tags in ways:
        body = field_varint(1, wid)
        if tags:
            body += field_bytes(2, pack_uvarints(
                np.array([st.add(k) for k in tags], dtype=np.uint64)))
            body += field_bytes(3, pack_uvarints(
                np.array([st.add(v) for v in tags.values()],
                         dtype=np.uint64)))
        body += field_bytes(8, pack_svarints(
            _delta(np.asarray(refs, dtype=np.int64))))
        msgs.append(field_bytes(3, body))
    group = b"".join(msgs)
    return (field_bytes(1, st.encode()) + field_bytes(2, group)
            + field_varint(17, _GRANULARITY))


def encode_relation_block(relations: list) -> bytes:
    """[(id, members, tags)] with members [(type, ref, role)] ->
    PrimitiveBlock bytes (one group of Relations)."""
    st = _StringTable()
    msgs = []
    for rid, members, tags in relations:
        body = field_varint(1, rid)
        if tags:
            body += field_bytes(2, pack_uvarints(
                np.array([st.add(k) for k in tags], dtype=np.uint64)))
            body += field_bytes(3, pack_uvarints(
                np.array([st.add(v) for v in tags.values()],
                         dtype=np.uint64)))
        roles = np.array([st.add(role) for _, _, role in members],
                         dtype=np.uint64)
        memids = _delta(np.array([ref for _, ref, _ in members],
                                 dtype=np.int64))
        types = np.array([t for t, _, _ in members], dtype=np.uint64)
        body += field_bytes(8, pack_uvarints(roles))
        body += field_bytes(9, pack_svarints(memids))
        body += field_bytes(10, pack_uvarints(types))
        msgs.append(field_bytes(4, body))
    group = b"".join(msgs)
    return (field_bytes(1, st.encode()) + field_bytes(2, group)
            + field_varint(17, _GRANULARITY))


def encode_header_block(bbox, features=("OsmSchema-V0.6", "DenseNodes"),
                        optional=("Sort.Type_then_ID",)) -> bytes:
    """HeaderBlock bytes; bbox = (minlon, minlat, maxlon, maxlat) deg."""
    minlon, minlat, maxlon, maxlat = bbox
    hb = b"".join(field_varint(f, zigzag(int(round(deg * 1e9))))
                  for f, deg in ((1, minlon), (2, maxlon), (3, maxlat),
                                 (4, minlat)))
    out = field_bytes(1, hb)
    for f in features:
        out += field_bytes(4, f.encode())
    for f in optional:
        out += field_bytes(5, f.encode())
    return out


# ---------------- file framing ----------------

def _frame_blob(kind: str, raw: bytes) -> bytes:
    """raw PrimitiveBlock/HeaderBlock -> length-prefixed BlobHeader+Blob."""
    z = zlib.compress(raw, 6)
    blob = field_varint(2, len(raw)) + field_bytes(3, z)
    header = field_bytes(1, kind.encode()) + field_varint(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


def write_pbf(path: str, nodes, ways, relations, bbox,
              nodes_per_blob: int = 8000, ways_per_blob: int = 2000,
              relations_per_blob: int = 2000) -> dict:
    """Write a complete .osm.pbf in Sort.Type_then_ID order.

    nodes: [(id, lon, lat, tags)], ways: [(id, refs, tags)],
    relations: [(id, members, tags)] — each sorted by id by the caller.
    Returns {"blobs": n, "nodes": n, "ways": n, "relations": n}.
    """
    n_blobs = 0
    with open(path, "wb") as f:
        f.write(_frame_blob("OSMHeader", encode_header_block(bbox)))
        n_blobs += 1
        for i in range(0, len(nodes), nodes_per_blob):
            f.write(_frame_blob(
                "OSMData", encode_dense_block(nodes[i:i + nodes_per_blob])))
            n_blobs += 1
        for i in range(0, len(ways), ways_per_blob):
            f.write(_frame_blob(
                "OSMData", encode_way_block(ways[i:i + ways_per_blob])))
            n_blobs += 1
        for i in range(0, len(relations), relations_per_blob):
            f.write(_frame_blob(
                "OSMData",
                encode_relation_block(relations[i:i + relations_per_blob])))
            n_blobs += 1
    return {"blobs": n_blobs, "nodes": len(nodes), "ways": len(ways),
            "relations": len(relations)}
