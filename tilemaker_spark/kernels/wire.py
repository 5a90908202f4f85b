"""Protobuf wire format, written by hand (no protobuf library needed).

The one encoder and decoder of the varint wire format shared by the OSM
PBF reader (:mod:`.pbf`) and writer (:mod:`.pbf_write`), the MVT codec
(:mod:`.mvt`) and the PMTiles directories (``sinks/pmtiles.py``; the
PMTiles v3 directory is a plain varint sequence, no tags).  Scalar
helpers serve per-message work; :func:`pack_uvarints` /
:func:`pack_svarints` encode whole numpy arrays for the hot packed
fields (dense node ids/coordinates, way refs).
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1


# ---------------- encode ----------------

def varint(v: int) -> bytes:
    """Base-128 varint of ``v`` as a 64-bit two's-complement value, so a
    negative int (protobuf int64) is written in 10 bytes."""
    out = bytearray()
    v &= _MASK64
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag(v: int) -> int:
    """sint64 zigzag map: 0, -1, 1, -2 ... -> 0, 1, 2, 3 ..."""
    return (v << 1) ^ (v >> 63)


def unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def tag(field: int, wire: int) -> bytes:
    return varint((field << 3) | wire)


def field_varint(field: int, v: int) -> bytes:
    return tag(field, 0) + varint(v)


def field_bytes(field: int, payload: bytes) -> bytes:
    return tag(field, 2) + varint(len(payload)) + payload


def pack_uvarints(vals) -> bytes:
    """Vectorized packed-varint encode of unsigned ints (numpy).

    Builds an (n, 10) byte matrix — 10 bytes is the max varint length for
    64-bit values — then masks each row down to its true length.  ~50x
    faster than a per-value Python loop on million-element arrays.
    """
    u = np.asarray(vals, dtype=np.uint64)
    if u.size == 0:
        return b""
    n = u.size
    lengths = np.ones(n, dtype=np.int64)
    for k in range(1, 10):
        lengths += (u >> np.uint64(7 * k)) != 0
    out = np.zeros((n, 10), dtype=np.uint8)
    tmp = u.copy()
    for k in range(10):
        out[:, k] = (tmp & np.uint64(0x7F)).astype(np.uint8)
        tmp >>= np.uint64(7)
    cols = np.arange(10)
    cont = cols[None, :] < (lengths - 1)[:, None]
    out |= cont.astype(np.uint8) << 7
    keep = cols[None, :] < lengths[:, None]
    return out[keep].tobytes()


def pack_svarints(vals) -> bytes:
    """Vectorized packed zigzag-varint encode of signed ints."""
    v = np.asarray(vals, dtype=np.int64)
    zz = ((v << 1) ^ (v >> 63)).view(np.uint64)
    return pack_uvarints(zz)


# ---------------- decode ----------------

def read_varint(buf, i: int) -> tuple[int, int]:
    """Varint at ``buf[i]`` -> (value, index after it)."""
    shift = v = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def packed_varints(payload, signed: bool = False) -> list[int]:
    out = []
    i = 0
    n = len(payload)
    while i < n:
        v, i = read_varint(payload, i)
        out.append(unzigzag(v) if signed else v)
    return out


def fields(buf):
    """Iterate (field_no, wire_type, value_or_payload) over a message:
    an int for wire type 0, the raw bytes for 1 (8), 2 (length-delimited)
    and 5 (4).  The deprecated group wire types raise ValueError."""
    i = 0
    n = len(buf)
    while i < n:
        t, i = read_varint(buf, i)
        f, w = t >> 3, t & 7
        if w == 0:
            v, i = read_varint(buf, i)
            yield f, w, v
        elif w == 2:
            ln, i = read_varint(buf, i)
            yield f, w, buf[i:i + ln]
            i += ln
        elif w == 5:
            yield f, w, buf[i:i + 4]
            i += 4
        elif w == 1:
            yield f, w, buf[i:i + 8]
            i += 8
        else:
            raise ValueError(f"wire type {w}")
