"""OSM PBF decoder, pure Python (public OSM PBF format spec).

Produces the three entity relations of the reference's data model
(/root/reference/include/pbf_reader.h:107-158): nodes (id, lat, lon, tags),
ways (id, refs, tags), relations (id, members, tags).  Dense nodes are
delta-decoded, tags resolved through the per-block string table, coordinates
scaled by granularity/offset — same semantics as the reference's reader,
reimplemented from the published .proto definitions (osmformat.proto /
fileformat.proto are public domain).  The protobuf wire decoding
(varints, zigzag, the field iterator) is :mod:`tilemaker_spark.kernels.wire`.

The file is split into independently decodable blobs; :func:`scan_blobs`
enumerates (offset, size, type) so a Spark job can fan blob decoding out
across executors, and :func:`decode_block` can decode one entity kind of
a blob and skip the rest.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

from .wire import fields, packed_varints, unzigzag

MEMBER_NODE, MEMBER_WAY, MEMBER_RELATION = 0, 1, 2


# ---------------- file level ----------------

@dataclass
class BlobRef:
    offset: int        # offset of the blob body in the file
    size: int          # blob body size
    kind: str          # "OSMHeader" | "OSMData"


def scan_blobs(path: str) -> list[BlobRef]:
    """Enumerate blob boundaries (the parallelization unit; analogous to the
    reference's block index, src/pbf_processor.cpp:529-591)."""
    refs = []
    with open(path, "rb") as f:
        while True:
            lenbuf = f.read(4)
            if len(lenbuf) < 4:
                break
            hlen = struct.unpack(">I", lenbuf)[0]
            header = f.read(hlen)
            kind, datasize = "", 0
            for fno, _, val in fields(header):
                if fno == 1:
                    kind = val.decode()
                elif fno == 3:
                    datasize = val
            refs.append(BlobRef(f.tell(), datasize, kind))
            f.seek(datasize, 1)
    return refs


def read_blob(path: str, ref: BlobRef) -> bytes:
    with open(path, "rb") as f:
        f.seek(ref.offset)
        body = f.read(ref.size)
    raw = None
    for fno, _, val in fields(body):
        if fno == 1:
            raw = val
        elif fno == 3:
            raw = zlib.decompress(val)
    if raw is None:
        raise ValueError("blob has no raw/zlib payload")
    return raw


def decode_header(raw: bytes) -> dict:
    """HeaderBlock -> {bbox: (minlon, minlat, maxlon, maxlat) | None}."""
    bbox = None
    features = []
    for fno, _, val in fields(raw):
        if fno == 1:
            left = right = top = bottom = 0
            for bf, _, bv in fields(val):
                if bf == 1:
                    left = unzigzag(bv)
                elif bf == 2:
                    right = unzigzag(bv)
                elif bf == 3:
                    top = unzigzag(bv)
                elif bf == 4:
                    bottom = unzigzag(bv)
            bbox = (left / 1e9, bottom / 1e9, right / 1e9, top / 1e9)
        elif fno in (4, 5):
            features.append(val.decode())
    return {"bbox": bbox, "features": features}


# ---------------- primitive blocks ----------------

@dataclass
class BlockEntities:
    nodes: list = field(default_factory=list)      # (id, lon, lat, tags)
    ways: list = field(default_factory=list)       # (id, refs, tags)
    relations: list = field(default_factory=list)  # (id, members, tags)
    n_groups: int = 0
    n_strings: int = 0


# PrimitiveGroup field numbers of each entity kind: 1 Node, 2 DenseNodes,
# 3 Way, 4 Relation (osmformat.proto)
_GROUP_FIELDS = {"nodes": (1, 2), "ways": (3,), "relations": (4,)}


def decode_block(raw: bytes, kind: str | None = None) -> BlockEntities:
    """Decode one PrimitiveBlock.  ``kind`` ("nodes", "ways" or
    "relations") decodes only that kind's primitive groups and skips the
    others by field number, leaving their lists empty; the default
    decodes every kind."""
    wanted = _GROUP_FIELDS[kind] if kind else (1, 2, 3, 4)
    strings: list[str] = []
    groups: list[bytes] = []
    granularity, lat_off, lon_off = 100, 0, 0
    for fno, _, val in fields(raw):
        if fno == 1:
            for sf, _, sv in fields(val):
                if sf == 1:
                    strings.append(sv.decode("utf-8", "replace"))
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 19:
            lat_off = val
        elif fno == 20:
            lon_off = val

    out = BlockEntities(n_groups=len(groups), n_strings=len(strings))
    scale = 1e-9 * granularity

    for g in groups:
        for fno, _, val in fields(g):
            if fno not in wanted:
                continue
            if fno == 2:  # DenseNodes
                ids = lats = lons = None
                kvs: list[int] = []
                for df, _, dv in fields(val):
                    if df == 1:
                        ids = packed_varints(dv, signed=True)
                    elif df == 8:
                        lats = packed_varints(dv, signed=True)
                    elif df == 9:
                        lons = packed_varints(dv, signed=True)
                    elif df == 10:
                        kvs = packed_varints(dv)
                if not ids:
                    continue
                cid = clat = clon = 0
                ki = 0
                for k in range(len(ids)):
                    cid += ids[k]
                    clat += lats[k]
                    clon += lons[k]
                    tags = {}
                    while ki < len(kvs) and kvs[ki] != 0:
                        tags[strings[kvs[ki]]] = strings[kvs[ki + 1]]
                        ki += 2
                    ki += 1  # skip the 0 delimiter
                    out.nodes.append((
                        cid,
                        lon_off * 1e-9 + clon * scale,
                        lat_off * 1e-9 + clat * scale,
                        tags,
                    ))
            elif fno == 1:  # plain Node (rare)
                nid = 0
                lat = lon = 0
                keys = vals = []
                for nf, _, nv in fields(val):
                    if nf == 1:
                        nid = nv
                    elif nf == 2:
                        keys = packed_varints(nv)
                    elif nf == 3:
                        vals = packed_varints(nv)
                    elif nf == 8:
                        lat = unzigzag(nv)
                    elif nf == 9:
                        lon = unzigzag(nv)
                tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
                out.nodes.append((
                    nid, lon_off * 1e-9 + lon * scale,
                    lat_off * 1e-9 + lat * scale, tags,
                ))
            elif fno == 3:  # Way
                wid = 0
                keys = vals = refs = []
                for wf, _, wv in fields(val):
                    if wf == 1:
                        wid = wv
                    elif wf == 2:
                        keys = packed_varints(wv)
                    elif wf == 3:
                        vals = packed_varints(wv)
                    elif wf == 8:
                        refs = packed_varints(wv, signed=True)
                acc = 0
                abs_refs = []
                for d in refs:
                    acc += d
                    abs_refs.append(acc)
                tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
                out.ways.append((wid, abs_refs, tags))
            elif fno == 4:  # Relation
                rid = 0
                keys = vals = roles = memids = types = []
                for rf, _, rv in fields(val):
                    if rf == 1:
                        rid = rv
                    elif rf == 2:
                        keys = packed_varints(rv)
                    elif rf == 3:
                        vals = packed_varints(rv)
                    elif rf == 8:
                        roles = packed_varints(rv)
                    elif rf == 9:
                        memids = packed_varints(rv, signed=True)
                    elif rf == 10:
                        types = packed_varints(rv)
                acc = 0
                members = []
                for mi, d in enumerate(memids):
                    acc += d
                    members.append((types[mi], acc, strings[roles[mi]]))
                tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
                out.relations.append((rid, members, tags))
    return out


def decode_file(path: str):
    """Decode a whole PBF single-threaded -> (header, BlockEntities merged).

    For distributed decode use scan_blobs + per-blob decode inside
    ``tilemaker_spark.sources.pbf``.
    """
    header = None
    merged = BlockEntities()
    for ref in scan_blobs(path):
        raw = read_blob(path, ref)
        if ref.kind == "OSMHeader":
            header = decode_header(raw)
        else:
            b = decode_block(raw)
            merged.nodes.extend(b.nodes)
            merged.ways.extend(b.ways)
            merged.relations.extend(b.relations)
            merged.n_groups += b.n_groups
            merged.n_strings += b.n_strings
    return header, merged
