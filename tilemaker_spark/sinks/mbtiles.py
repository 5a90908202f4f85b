"""MBTiles sink (sqlite, single-writer).

Mirrors the reference's mbtiles schema (/root/reference/src/mbtiles.cpp:20-65):
``tiles(zoom_level, tile_column, tile_row, tile_data)`` with **TMS-flipped
row** (tile_row = 2^z - 1 - y, src/mbtiles.cpp:60), a ``metadata`` k/v
table, journaling off, one transaction.  MBTiles is inherently a
single-writer format — the distributed plan computes tiles in parallel and
streams partitions to the driver via ``toLocalIterator`` (never a full
collect); for cluster-scale outputs use the file-tree sink instead.
"""

from __future__ import annotations

import json
import sqlite3

from pyspark.sql import DataFrame


def write_mbtiles(tiles: DataFrame, path: str, metadata: dict | None = None,
                  merge: bool = False) -> int:
    """tiles(z, x, y, tile) -> .mbtiles at path. Returns tile count.

    merge=True implements the reference's ``--merge`` semantics
    (src/tile_worker.cpp:452-465): when a tile already exists at
    (z, x, y), the existing tile's FEATURES are decoded and concatenated
    with the new tile's (per layer) and the merged tile is written — not
    a whole-tile replace.

    ``metadata`` is the TileJSON-shaped dict every sink takes; MBTiles
    stores its ``bounds`` as a "minlon,minlat,maxlon,maxlat" string and
    its ``vector_layers`` under the ``json`` key (reference
    src/shared_data.cpp:21-36, 184-209)."""
    from ..kernels import mvt as M
    conn = sqlite3.connect(path)
    cur = conn.cursor()
    cur.execute("PRAGMA journal_mode=OFF")
    cur.execute("PRAGMA synchronous=OFF")
    if not merge:
        cur.execute("DROP TABLE IF EXISTS tiles")
        cur.execute("DROP TABLE IF EXISTS metadata")
    cur.execute(
        "CREATE TABLE IF NOT EXISTS tiles (zoom_level integer, "
        "tile_column integer, tile_row integer, tile_data blob)")
    cur.execute(
        "CREATE UNIQUE INDEX IF NOT EXISTS tile_index ON tiles "
        "(zoom_level, tile_column, tile_row)")
    cur.execute(
        "CREATE TABLE IF NOT EXISTS metadata (name text, value text)")
    cur.execute("BEGIN")
    n = 0
    stmt = ("INSERT OR REPLACE INTO tiles (zoom_level, tile_column, "
            "tile_row, tile_data) VALUES (?,?,?,?)")
    for row in tiles.select("z", "x", "y", "tile").toLocalIterator():
        flipped = (1 << row["z"]) - 1 - row["y"]
        blob = bytes(row["tile"])
        if merge:
            old = cur.execute(
                "SELECT tile_data FROM tiles WHERE zoom_level=? AND "
                "tile_column=? AND tile_row=?",
                (row["z"], row["x"], flipped)).fetchone()
            if old is not None:
                blob = M.merge_tile_blobs(bytes(old[0]), blob)
        cur.execute(stmt, (row["z"], row["x"], flipped,
                           sqlite3.Binary(blob)))
        n += 1
    cur.execute("DELETE FROM metadata")
    meta = {"name": "tilemaker_spark", "format": "pbf",
            "type": "baselayer", "version": "2"}
    meta.update(metadata or {})
    if "bounds" in meta:
        meta["bounds"] = ",".join(f"{float(v):.6f}" for v in meta["bounds"])
    if "vector_layers" in meta:
        meta["json"] = {"vector_layers": meta.pop("vector_layers")}
    for k, v in meta.items():
        if not isinstance(v, str):
            v = json.dumps(v)
        cur.execute("INSERT INTO metadata (name, value) VALUES (?,?)", (k, v))
    conn.commit()
    conn.close()
    return n


def read_mbtiles_tile(path: str, z: int, x: int, y: int) -> bytes | None:
    conn = sqlite3.connect(path)
    cur = conn.execute(
        "SELECT tile_data FROM tiles WHERE zoom_level=? AND tile_column=? "
        "AND tile_row=?", (z, x, (1 << z) - 1 - y))
    row = cur.fetchone()
    conn.close()
    return row[0] if row else None


def mbtiles_stats(path: str) -> dict:
    conn = sqlite3.connect(path)
    per_zoom = dict(conn.execute(
        "SELECT zoom_level, count(*) FROM tiles GROUP BY zoom_level"))
    meta = dict(conn.execute("SELECT name, value FROM metadata"))
    conn.close()
    return {"per_zoom": per_zoom, "total": sum(per_zoom.values()),
            "metadata": meta}
