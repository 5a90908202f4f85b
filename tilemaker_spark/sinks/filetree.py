"""z/x/y.pbf file-tree sink — the distributed-write path.

Mirrors the reference's file-tree output (/root/reference/
src/tile_worker.cpp:568-584 + metadata.json, src/shared_data.cpp:70-104)
but writes from executors in parallel (``foreachPartition``): no
single-writer bottleneck, the natural sink for cluster runs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_filetree(tiles: DataFrame, out_dir: str,
                   metadata: dict | None = None) -> int:
    """tiles(z, x, y, tile) -> out_dir/z/x/y.pbf plus ``metadata`` as
    out_dir/metadata.json. Returns tile count."""
    os.makedirs(out_dir, exist_ok=True)
    written = tiles.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows):
        n = 0
        for row in rows:
            d = os.path.join(out_dir, str(row["z"]), str(row["x"]))
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".{row['y']}.pbf.tmp")
            with open(tmp, "wb") as f:
                f.write(row["tile"])
            os.replace(tmp, os.path.join(d, f"{row['y']}.pbf"))
            n += 1
        written.add(n)

    tiles.select("z", "x", "y", "tile").foreachPartition(write_partition)
    meta = {"name": "tilemaker_spark", "format": "pbf"}
    meta.update(metadata or {})
    with open(os.path.join(out_dir, "metadata.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return written.value


def read_filetree_tile(out_dir: str, z: int, x: int, y: int) -> bytes | None:
    p = os.path.join(out_dir, str(z), str(x), f"{y}.pbf")
    if not os.path.exists(p):
        return None
    with open(p, "rb") as f:
        return f.read()
