"""Mapbox Vector Tile (MVT 2.1) encoder, pure Python.

Implements the public vector-tile spec; the protobuf wire format comes
from :mod:`tilemaker_spark.kernels.wire` (no protobuf lib needed).
Mirrors the reference engine's encode rules (src/tile_worker.cpp:98-301
via vtzero): integer grid of
``extent`` (4096, or 8192 "high resolution"), zigzag deltas, skip
zero-length segments, a ring needs >=4 points and a line >=2, inner rings
immediately follow their outer, per-layer shared key/value dictionaries.

Geometry input is in *tile-local fractional coordinates* in [0, 1] (plus
clip margins); quantization to the integer grid happens here, collapsing
consecutive duplicate grid points (reference src/coordinates_geom.cpp:28-57).
"""

from __future__ import annotations

import gzip
import struct
import zlib
from typing import Any

import numpy as np

from . import geom as G
from .wire import (field_bytes, field_varint, fields, packed_varints, tag,
                   unzigzag, varint, zigzag)

MOVETO, LINETO, CLOSEPATH = 1, 2, 7
GEOM_UNKNOWN, GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 0, 1, 2, 3


def encode_value(v: Any) -> bytes:
    """MVT Value message: string=1, float=2, double=3, int=4, bool=7.

    The reference supports exactly String/Float/Bool/Int attribute types
    (include/attribute_store.h:45-175); we write double for floats.
    """
    if isinstance(v, bool):
        return field_varint(7, 1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return field_varint(4, int(v))
    if isinstance(v, (float, np.floating)):
        return tag(3, 1) + struct.pack("<d", float(v))
    return field_bytes(1, str(v).encode("utf-8"))


# ---------------- geometry command encoding ----------------

def _quantize(coords: np.ndarray, extent: int) -> np.ndarray:
    """Fractional tile coords -> integer grid, dropping consecutive dups."""
    g = np.floor(np.asarray(coords, np.float64) * extent).astype(np.int64)
    if len(g) > 1:
        keep = np.ones(len(g), dtype=bool)
        keep[1:] = (g[1:] != g[:-1]).any(axis=1)
        g = g[keep]
    return g


def encode_point_geom(points: np.ndarray, extent: int) -> list[int]:
    g = _quantize(points, extent)
    g = np.unique(g, axis=0)
    if len(g) == 0:
        return []
    cmds = [(MOVETO) | (len(g) << 3)]
    cx = cy = 0
    for x, y in g:
        cmds.append(zigzag(int(x - cx)))
        cmds.append(zigzag(int(y - cy)))
        cx, cy = x, y
    return cmds


def encode_line_geom(lines: list[np.ndarray], extent: int) -> list[int]:
    cmds: list[int] = []
    cx = cy = 0
    for line in lines:
        g = _quantize(line, extent)
        if len(g) < 2:
            continue
        cmds.append(MOVETO | (1 << 3))
        cmds.append(zigzag(int(g[0, 0] - cx)))
        cmds.append(zigzag(int(g[0, 1] - cy)))
        cx, cy = int(g[0, 0]), int(g[0, 1])
        cmds.append(LINETO | ((len(g) - 1) << 3))
        for x, y in g[1:]:
            cmds.append(zigzag(int(x - cx)))
            cmds.append(zigzag(int(y - cy)))
            cx, cy = int(x), int(y)
    return cmds


def encode_polygon_geom(mp: list[list[np.ndarray]], extent: int) -> list[int]:
    """Multipolygon -> commands; inner rings follow their outer (reference
    rule).  MVT winding: outer CW, inner CCW in screen space (y down)."""
    cmds: list[int] = []
    cx = cy = 0
    for poly in mp:
        for ri, ring in enumerate(poly):
            g = _quantize(ring, extent)
            if len(g) >= 2 and (g[0] == g[-1]).all():
                g = g[:-1]
            if len(g) < 3:
                if ri == 0:
                    break  # degenerate outer -> whole polygon vanishes
                continue
            # screen-space shoelace (y grows down): a screen-CW ring has
            # positive signed area
            want_cw = ri == 0
            is_cw = G.signed_ring_area_planar(g.astype(float)) > 0
            if want_cw != is_cw:
                g = g[::-1]
            cmds.append(MOVETO | (1 << 3))
            cmds.append(zigzag(int(g[0, 0] - cx)))
            cmds.append(zigzag(int(g[0, 1] - cy)))
            cx, cy = int(g[0, 0]), int(g[0, 1])
            cmds.append(LINETO | ((len(g) - 1) << 3))
            for px, py in g[1:]:
                cmds.append(zigzag(int(px - cx)))
                cmds.append(zigzag(int(py - cy)))
                cx, cy = int(px), int(py)
            cmds.append(CLOSEPATH | (1 << 3))
    return cmds


# ---------------- layer / tile assembly ----------------

class LayerBuilder:
    """Accumulates features for one MVT layer with shared k/v dictionaries."""

    def __init__(self, name: str, extent: int = 4096):
        self.name = name
        self.extent = extent
        self.keys: list[str] = []
        self.values: list[bytes] = []
        self._key_ix: dict[str, int] = {}
        self._val_ix: dict[bytes, int] = {}
        self.features: list[bytes] = []

    def _key(self, k: str) -> int:
        if k not in self._key_ix:
            self._key_ix[k] = len(self.keys)
            self.keys.append(k)
        return self._key_ix[k]

    def _value(self, v: Any) -> int:
        enc = encode_value(v)
        if enc not in self._val_ix:
            self._val_ix[enc] = len(self.values)
            self.values.append(enc)
        return self._val_ix[enc]

    def add_feature(self, geom_type: int, cmds: list[int],
                    attrs: dict[str, Any] | None = None,
                    feature_id: int | None = None) -> bool:
        if not cmds:
            return False
        body = b""
        if feature_id is not None:
            body += field_varint(1, int(feature_id))
        if attrs:
            tag_ints: list[int] = []
            for k, v in attrs.items():
                if v is None:
                    continue
                tag_ints.append(self._key(k))
                tag_ints.append(self._value(v))
            if tag_ints:
                body += field_bytes(2, b"".join(varint(t) for t in tag_ints))
        body += field_varint(3, geom_type)
        body += field_bytes(4, b"".join(varint(c) for c in cmds))
        self.features.append(body)
        return True

    def build(self) -> bytes:
        out = field_varint(15, 2)          # version
        out += field_bytes(1, self.name.encode("utf-8"))
        for f in self.features:
            out += field_bytes(2, f)
        for k in self.keys:
            out += field_bytes(3, k.encode("utf-8"))
        for v in self.values:
            out += field_bytes(4, v)
        out += field_varint(5, self.extent)
        return out


def build_tile(layers: list[LayerBuilder], compress: str = "gzip") -> bytes:
    raw = b"".join(field_bytes(3, lb.build()) for lb in layers if lb.features)
    if compress == "gzip":
        return gzip.compress(raw, 6, mtime=0)
    if compress == "deflate":
        return zlib.compress(raw, 6)
    return raw


def _rescale_cmds(cmds: list[int], num: int, den: int) -> list[int]:
    """Rescale MVT geometry commands from extent ``den`` to ``num``:
    decode zigzag deltas to absolute grid coords, scale with rounding on
    ABSOLUTE positions (no delta drift), re-encode deltas."""
    out: list[int] = []
    cx = cy = 0   # cursor in the old grid
    ox = oy = 0   # last emitted point in the new grid
    i = 0
    n = len(cmds)
    while i < n:
        cmd = cmds[i]
        i += 1
        out.append(cmd)
        op, count = cmd & 7, cmd >> 3
        if op == 7:  # ClosePath carries no params
            continue
        for _ in range(count):
            cx += unzigzag(cmds[i])
            cy += unzigzag(cmds[i + 1])
            i += 2
            nx = round(cx * num / den)
            ny = round(cy * num / den)
            out.append(zigzag(nx - ox))
            out.append(zigzag(ny - oy))
            ox, oy = nx, ny
    return out


def merge_tile_blobs(old_blob: bytes, new_blob: bytes,
                     compress: str = "gzip") -> bytes:
    """Feature-level tile merge (reference --merge semantics,
    src/tile_worker.cpp:452-465: the existing tile's features are decoded
    and concatenated with the new tile's, per layer).  MVT geometry
    commands are per-feature self-contained (cursor resets per feature),
    so same-extent features re-encode verbatim; when the two runs encoded
    a layer at different extents (e.g. 8192 high_resolution vs 4096) the
    old features are rescaled to the new extent."""
    old = decode_tile(old_blob)
    new = decode_tile(new_blob)
    builders: list[LayerBuilder] = []
    names = list(old.keys()) + [n for n in new.keys() if n not in old]
    for name in names:
        extent = (new.get(name) or old.get(name))["extent"]
        lb = LayerBuilder(name, extent=extent)
        for src in (old.get(name), new.get(name)):
            if not src:
                continue
            for f in src["features"]:
                cmds = f["cmds"]
                if src["extent"] != extent:
                    cmds = _rescale_cmds(cmds, extent, src["extent"])
                lb.add_feature(f["type"], cmds, f["attrs"],
                               feature_id=f["id"])
        builders.append(lb)
    return build_tile(builders, compress=compress)


# ---------------- decoder (round-trip tests, --merge) ----------------

def decode_tile(blob: bytes) -> dict[str, dict]:
    """Minimal MVT decoder: returns {layer: {extent, features:[{type, id,
    attrs, geometry_cmds}], keys, values}} for round-trip tests."""
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)
    elif blob[:1] == b"\x78":
        blob = zlib.decompress(blob)
    out: dict[str, dict] = {}
    for field, wire, payload in fields(blob):
        # --merge decodes tiles read from an existing archive: reject a
        # blob that is not a sequence of length-delimited layers
        if wire != 2:
            raise ValueError("unexpected wire type at tile level")
        if field == 3:
            layer = _decode_layer(payload)
            out[layer["name"]] = layer
    return out


def _decode_value(buf: bytes) -> Any:
    for field, _, v in fields(buf):
        if field == 1:
            return v.decode("utf-8")
        if field == 3:
            return struct.unpack("<d", v)[0]
        if field in (4, 5):
            return v
        if field == 6:
            return unzigzag(v)
        if field == 7:
            return bool(v)
        raise ValueError(f"value field {field}")


def _decode_layer(buf: bytes) -> dict:
    layer = {"name": "", "extent": 4096, "keys": [], "values": [],
             "features": []}
    raw_features: list[bytes] = []
    for field, _, v in fields(buf):
        if field == 1:
            layer["name"] = v.decode("utf-8")
        elif field == 2:
            raw_features.append(v)
        elif field == 3:
            layer["keys"].append(v.decode("utf-8"))
        elif field == 4:
            layer["values"].append(_decode_value(v))
        elif field == 5:
            layer["extent"] = v
    # features reference the key/value tables, which follow them
    keys, values = layer["keys"], layer["values"]
    for fb in raw_features:
        f: dict = {"id": None, "attrs": {}, "type": 0, "cmds": []}
        for field, _, v in fields(fb):
            if field == 1:
                f["id"] = v
            elif field == 2:
                ints = packed_varints(v)
                for a in range(0, len(ints), 2):
                    f["attrs"][keys[ints[a]]] = values[ints[a + 1]]
            elif field == 3:
                f["type"] = v
            elif field == 4:
                f["cmds"] = packed_varints(v)
        layer["features"].append(f)
    return layer
