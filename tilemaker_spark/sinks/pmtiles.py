"""PMTiles v3 sink (single-writer), from the public PMTiles specification.

Mirrors the reference's pmtiles writer role (/root/reference/
src/pmtiles.cpp:16-173): Hilbert-ordered tile ids, varint-encoded
directories (delta tile ids, run-lengths, lengths, offsets), gzip
internal compression, root directory (+ leaf directories when the entry
count is large).  Like mbtiles, this is a single-writer format: tiles are
computed distributed and streamed to the writer ordered by tile id
(``ORDER BY`` replaces the reference's sort).
"""

from __future__ import annotations

import gzip
import itertools
import json
import struct

import numpy as np
from pyspark.sql import DataFrame

from ..kernels.wire import pack_uvarints, packed_varints

MAGIC = b"PMTiles"
HEADER_SIZE = 127
ROOT_DIR_SPACE = 16384 - HEADER_SIZE


def _rotate(n, x, y, rx, ry):
    if ry == 0:
        if rx == 1:
            x, y = n - 1 - x, n - 1 - y
        x, y = y, x
    return x, y


def hilbert_d(z: int, x: int, y: int) -> int:
    """(z, x, y) -> position on the z-level Hilbert curve (public
    algorithm)."""
    n = 1 << z
    rx = ry = 0
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        x, y = _rotate(n, x, y, rx, ry)
        s >>= 1
    return d


def tile_id(z: int, x: int, y: int) -> int:
    """PMTiles tile id: cumulative count of tiles above + Hilbert index."""
    base = ((1 << (2 * z)) - 1) // 3  # sum of 4^i for i < z
    return base + hilbert_d(z, x, y)


def _encode_directory(entries) -> bytes:
    """entries: sorted [(tile_id, offset, length, run_length)] -> serialized
    dir: the entry count, then four varint columns — tile id deltas, run
    lengths, lengths, offsets (0 = contiguous with the previous entry,
    else offset + 1).  run_length=1 for tile entries, run_length=0 marks
    a leaf-directory pointer (PMTiles v3 spec; reference pmtiles.hpp leaf
    root entries)."""
    vals = [len(entries)]
    last = 0
    for tid, _, _, _ in entries:
        vals.append(tid - last)
        last = tid
    vals += [rl for _, _, _, rl in entries]
    vals += [ln for _, _, ln, _ in entries]
    prev_end = None
    for _, off, ln, _ in entries:
        vals.append(0 if off == prev_end else off + 1)
        prev_end = off + ln
    return pack_uvarints(vals)


def _decode_directory(buf: bytes):
    vals = packed_varints(buf)
    n = vals[0]
    tids = list(itertools.accumulate(vals[1:n + 1]))
    runs = vals[n + 1:2 * n + 1]
    lens = vals[2 * n + 1:3 * n + 1]
    offs = []
    prev_end = 0
    for v, ln in zip(vals[3 * n + 1:4 * n + 1], lens):
        offs.append(prev_end if v == 0 else v - 1)
        prev_end = offs[-1] + ln
    return list(zip(tids, offs, lens, runs))


# reference writer constants (/root/reference/include/pmtiles.h:17-27)
TINY_LENGTH = 100       # blobs under this are dedup candidates
TINY_MAX_SIZE = 10000   # dedup cache bound


def _rle_entries(tids, offs, lens):
    """Run-length entries over the whole (tid-sorted) index in one numpy
    pass — the reference's appendWithRLE (src/pmtiles.cpp:102-111) rule
    applied to every tile at once: an entry whose tile id continues the
    previous run AND shares its data offset extends that run."""
    tid = np.asarray(tids, np.int64)
    off = np.asarray(offs, np.int64)
    ln = np.asarray(lens, np.int64)
    if tid.size == 0:
        return []
    # a run break = tile id not consecutive OR offset changed
    brk = np.ones(tid.size, bool)
    brk[1:] = (tid[1:] != tid[:-1] + 1) | (off[1:] != off[:-1])
    starts = np.flatnonzero(brk)
    runs = np.diff(np.append(starts, tid.size))
    return list(zip(tid[starts].tolist(), off[starts].tolist(),
                    ln[starts].tolist(), runs.tolist()))


def write_pmtiles(tiles: DataFrame, path: str,
                  metadata: dict | None = None,
                  vector_layers: list | None = None) -> int:
    """tiles(z, x, y, tile) -> .pmtiles. Tile blobs must already be gzip
    (the engine's default tile compression). Returns tile count.
    ``vector_layers`` goes into the JSON metadata blob (spec/TileJSON;
    reference shared_data.cpp:184-209).

    Index assembly mirrors the reference writer (src/pmtiles.cpp:16-173):
    * identical tiny blobs (< TINY_LENGTH bytes — ocean/empty tiles) are
      written once and shared by offset (saveTile's tinyCache),
    * adjacent tile ids sharing one offset collapse into run-length
      entries (appendWithRLE) — together these shrink planet archives
      where sea tiles dominate.
    """
    if vector_layers is not None:
        metadata = dict(metadata or {})
        metadata["vector_layers"] = vector_layers
    # no cluster-side orderBy: the archive order is HILBERT tile id,
    # which the driver-side items.sort below establishes anyway — a
    # (z, x, y) orderBy here would add a full range-shuffle whose
    # ordering the sort then discards
    rows = tiles.select("z", "x", "y", "tile").toLocalIterator()
    items = []
    minz, maxz = 99, 0
    for r in rows:
        z = r["z"]
        items.append((tile_id(z, r["x"], r["y"]), bytes(r["tile"])))
        minz = min(minz, z)
        maxz = max(maxz, z)
    items.sort(key=lambda t: t[0])

    # data section in tile-id order, identical tiny blobs deduplicated
    blobs = bytearray()
    tiny: dict[bytes, tuple[int, int]] = {}
    tids, offs, lens = [], [], []
    clustered = True
    n_contents = 0
    for tid, blob in items:
        hit = tiny.get(blob) if len(blob) < TINY_LENGTH else None
        if hit is not None:
            off, ln = hit
            if not offs or off != offs[-1]:
                # only a NON-adjacent reuse breaks tile-id data order;
                # a run of identical tiles sharing the immediately
                # preceding blob (the ocean-tile RLE case) stays
                # clustered per the spec
                clustered = False
        else:
            off, ln = len(blobs), len(blob)
            blobs += blob
            n_contents += 1
            if len(blob) < TINY_LENGTH:
                if len(tiny) > TINY_MAX_SIZE:
                    tiny.clear()
                tiny[blob] = (off, ln)
        tids.append(tid)
        offs.append(off)
        lens.append(ln)
    n_addressed = len(items)
    entries = _rle_entries(tids, offs, lens)

    root = gzip.compress(_encode_directory(entries), 6, mtime=0)
    leaves = b""
    if len(root) > ROOT_DIR_SPACE:
        # split into leaf directories of 4096 entries; root entries that
        # point at leaves carry run_length=0 (spec leaf-pointer marker)
        leaf_bufs = []
        root_entries = []
        for i in range(0, len(entries), 4096):
            chunk = entries[i:i + 4096]
            enc = gzip.compress(_encode_directory(chunk), 6, mtime=0)
            root_entries.append((chunk[0][0], sum(
                len(b) for b in leaf_bufs), len(enc), 0))
            leaf_bufs.append(enc)
        leaves = b"".join(leaf_bufs)
        root = gzip.compress(_encode_directory(root_entries), 6, mtime=0)

    meta = {"name": "tilemaker_spark", "format": "pbf"}
    meta.update(metadata or {})
    meta_bytes = gzip.compress(json.dumps(meta).encode(), 6, mtime=0)

    root_off = HEADER_SIZE
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta_bytes)
    data_off = leaf_off + len(leaves)

    header = bytearray(HEADER_SIZE)
    header[0:7] = MAGIC
    header[7] = 3  # version
    struct.pack_into("<QQQQQQQQ", header, 8,
                     root_off, len(root), meta_off, len(meta_bytes),
                     leaf_off, len(leaves), data_off, len(blobs))
    # addressed (logical tiles) / entries (after RLE) / contents
    # (distinct blobs after dedup) — pmtiles v3 header fields
    struct.pack_into("<QQQ", header, 72,
                     n_addressed, len(entries), n_contents)
    header[96] = 1 if clustered else 0  # data in tile-id order?
    header[97] = 2  # internal compression: gzip
    header[98] = 2  # tile compression: gzip
    header[99] = 1  # tile type: MVT
    header[100] = minz if entries else 0
    header[101] = maxz if entries else 0
    # bounds (E7 ints): world
    struct.pack_into("<iiii", header, 102,
                     -180 * 10**7, -85 * 10**7, 180 * 10**7, 85 * 10**7)
    struct.pack_into("<B", header, 118, (minz if entries else 0))
    struct.pack_into("<ii", header, 119, 0, 0)

    with open(path, "wb") as f:
        f.write(header)
        f.write(root)
        f.write(meta_bytes)
        f.write(leaves)
        f.write(blobs)
    return n_addressed


def read_pmtiles_tile(path: str, z: int, x: int, y: int) -> bytes | None:
    """Fetch one tile (for tests): header -> root dir (-> leaf) -> blob."""
    with open(path, "rb") as f:
        header = f.read(HEADER_SIZE)
        assert header[0:7] == MAGIC
        (root_off, root_len, meta_off, meta_len, leaf_off, leaf_len,
         data_off, data_len) = struct.unpack_from("<QQQQQQQQ", header, 8)
        f.seek(root_off)
        root = _decode_directory(gzip.decompress(f.read(root_len)))
        tid = tile_id(z, x, y)
        entries = root
        # run_length==0 root entries are leaf-directory pointers (spec)
        if leaf_len and root and root[0][3] == 0:
            leaf = None
            for ltid, loff, llen, lrl in root:
                if lrl != 0:
                    continue
                if ltid <= tid:
                    leaf = (loff, llen)
                else:
                    break
            if leaf is None:
                return None
            f.seek(leaf_off + leaf[0])
            entries = _decode_directory(gzip.decompress(f.read(leaf[1])))
        for etid, off, ln, rl in entries:
            if rl >= 1 and etid <= tid < etid + rl:
                f.seek(data_off + off)
                return f.read(ln)
    return None


def pmtiles_stats(path: str) -> dict:
    with open(path, "rb") as f:
        header = f.read(HEADER_SIZE)
        n_addressed, n_entries, n_contents = struct.unpack_from(
            "<QQQ", header, 72)
        meta_off, meta_len = struct.unpack_from("<QQ", header, 24)
        f.seek(meta_off)
        meta = json.loads(gzip.decompress(f.read(meta_len)))
    return {"n_tiles": n_addressed, "n_entries": n_entries,
            "n_contents": n_contents, "clustered": bool(header[96]),
            "minzoom": header[100], "maxzoom": header[101],
            "metadata": meta}
