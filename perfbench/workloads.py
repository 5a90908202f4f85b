"""The benchmark's workloads: input generation from the seed, the job
(untraced, or traced with one span per layer call and each layer's
output materialized before the next starts), and the output checks."""

from __future__ import annotations

import gzip
import json
import os
import sqlite3
import struct

from pyspark import StorageLevel
from pyspark.sql import functions as F

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "goldens.json")
DEFAULT_SEED = 42

OSM_SCALE = 0.02      # synth_osm scale: 20,005 nodes / 1,920 ways / 24 rels
MAXZOOM = 14
N_IMAGES = 3000       # image+caption rows per run
KNN_K = 5
KNN_CELL_ZOOM = 14
ROLLUP_ZOOM = 12
SEED_SLOTS = 32       # distinct image key ranges a seed can select
REPLAY_FEATURES = 1500  # profile features kept for the kernel replay


def golden(ctx, workload: str) -> dict | None:
    """The workload's goldens, which hold at the default seed and scale
    only; None elsewhere (structural checks only)."""
    if ctx.seed != DEFAULT_SEED or ctx.scale != 1.0:
        return None
    with open(GOLDENS) as f:
        return json.load(f)[workload]


def materialize(span: dict, df):
    """Cache ``df`` and count it inside ``span``, adding the count to the
    span's rows_out.  Returns (cached df, rows)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = df.count()
    span["rows_out"] = span.get("rows_out", 0) + n
    return df, n


# ================================================================ OSM

class OsmZ14:
    """synth_osm extract -> z0-14 MVT tiles -> .pmtiles, through the same
    calls as jobs/build_tiles_job.main."""

    name = "osm_z14"
    setup_reps = 3  # input generation is cheap: repeat it, report median

    def __init__(self, ctx):
        self.ctx = ctx
        self.pbf = os.path.join(ctx.work, "input.osm.pbf")
        self.out = os.path.join(ctx.work, "out.pmtiles")
        self.tiles_items: list = []

    def setup(self) -> dict:
        from tilemaker_spark.sources.synth_osm import write_synth_pbf
        return write_synth_pbf(self.pbf, seed=self.ctx.seed,
                               scale=OSM_SCALE * self.ctx.scale)

    def _cfg(self, cfg):
        cfg.minzoom = 0
        cfg.maxzoom = cfg.basezoom = MAXZOOM
        cfg.high_resolution = False
        return cfg

    def job(self) -> int:
        from build_tiles_job import read_features
        from tilemaker_spark.operators.tiling import generate_tiles
        from tilemaker_spark.sinks.pmtiles import write_pmtiles

        features, cfg = read_features(self.ctx.spark, [self.pbf])
        tiles = generate_tiles(features, self._cfg(cfg))
        return write_pmtiles(tiles, self.out)

    def traced_job(self, tr) -> int:
        """read_features -> generate_tiles -> write_pmtiles, unrolled into
        the layer calls they make."""
        from tilemaker_spark.kernels import pbf as K
        from tilemaker_spark.operators.assembly import (
            assemble_relation_multipolygons, assemble_way_geometries)
        from tilemaker_spark.operators.tiling import (build_tiles,
                                                      cover_features)
        from tilemaker_spark.plans.profile import openmaptiles_lite
        from tilemaker_spark.sinks.pmtiles import write_pmtiles
        from tilemaker_spark.sources import pbf as pbf_src

        spark = self.ctx.spark
        with tr.span("job"):
            with tr.span("sources.pbf") as s:
                s["rows_in"] = sum(r.kind == "OSMData"
                                   for r in K.scan_blobs(self.pbf))
                (nodes, n_nodes), (ways, n_ways), (rels, n_rels) = (
                    materialize(s, d) for d in
                    pbf_src.read_pbf_multi(spark, [self.pbf]))
            with tr.span("operators.assembly") as s:
                s["rows_in"] = n_ways + n_rels
                wg, n_wg = materialize(s, assemble_way_geometries(
                    ways, nodes, skip_integrity=True))
                rg, n_rg = materialize(s, assemble_relation_multipolygons(
                    rels.filter("tags['type'] = 'multipolygon'"), wg))
            with tr.span("plans.profile") as s:
                s["rows_in"] = n_nodes + n_wg + n_rg
                prof, cfg = openmaptiles_lite()
                features, n_feat = materialize(s, prof.apply(
                    nodes=nodes, way_geoms=wg, rel_geoms=rg))
            cfg = self._cfg(cfg)
            with tr.span("operators.tiling.cover") as s:
                s["rows_in"] = n_feat
                covered, n_cov = materialize(s, cover_features(
                    features, base_zoom=cfg.basezoom))
            with tr.span("operators.tiling.build") as s:
                s["rows_in"] = n_cov
                tiles, n_tiles = materialize(s, build_tiles(
                    covered, cfg, base_zoom=cfg.basezoom))
            with tr.span("sinks.pmtiles") as s:
                s["rows_in"] = n_tiles
                n = s["rows_out"] = write_pmtiles(tiles, self.out)
        self.features, self._traced_tiles = features, tiles
        self._keep = [nodes, ways, rels, wg, rg, features, covered, tiles]
        return n

    def after_trace(self, tr, metrics: dict) -> None:
        """Side span outside the job: the same tiles through the sqlite
        sink, so sinks.mbtiles is measured; then capture kernel inputs
        and release the caches."""
        from tilemaker_spark.sinks.mbtiles import write_mbtiles

        mb = os.path.join(self.ctx.work, "side.mbtiles")
        with tr.span("sinks.mbtiles") as s:
            s["rows_out"] = write_mbtiles(self._traced_tiles, mb)
            s["rows_in"] = s["rows_out"]
        errors, stats = check_archive(read_mbtiles_all(mb), mb, "mbtiles",
                                      golden(self.ctx, self.name))
        metrics["sinks.mbtiles.archive_bytes"] = stats["archive_bytes"]
        self.features_sample = [
            (r["kind"], list(r["coords"]), list(r["ring_sizes"]),
             list(r["poly_ring_counts"]))
            for r in self.features.select(
                "kind", "coords", "ring_sizes", "poly_ring_counts").collect()]
        for d in self._keep:
            d.unpersist()
        self._keep = []
        cov = next(sp for sp in tr.spans
                   if sp["name"] == "operators.tiling.cover")
        metrics["operators.tiling.cover.fanout"] = (
            cov["rows_out"] / max(cov["rows_in"], 1))
        if errors:
            raise OutputError("mbtiles side write: " + "; ".join(errors))

    def replay_inputs(self) -> dict:
        step = max(1, len(self.features_sample) // REPLAY_FEATURES)
        return {"pbf_path": self.pbf,
                "features": self.features_sample[::step],
                "tiles": self.tiles_items}

    def check(self, n_written: int) -> tuple[list[str], dict]:
        items = read_pmtiles_all(self.out)
        errors, stats = check_archive(items, self.out, "pmtiles",
                                      golden(self.ctx, self.name))
        if n_written != len(items):
            errors.append(f"sink returned {n_written}, archive holds "
                          f"{len(items)} tiles")
        self.tiles_items = items
        stats["items"] = len(items)
        return errors, stats


# ------------------------------------------------- archive read-back

def _varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def _pmtiles_dir(buf: bytes) -> list[tuple[int, int, int, int]]:
    """PMTiles v3 directory -> [(tile_id, offset, length, run_length)]."""
    n, i = _varint(buf, 0)
    cols = []
    for _ in range(3):
        col = []
        for _ in range(n):
            v, i = _varint(buf, i)
            col.append(v)
        cols.append(col)
    deltas, runs, lens = cols
    tids, last = [], 0
    for d in deltas:
        last += d
        tids.append(last)
    offs = []
    for k in range(n):
        v, i = _varint(buf, i)
        offs.append(offs[-1] + lens[k - 1] if v == 0 else v - 1)
    return list(zip(tids, offs, lens, runs))


def zxy_from_tile_id(tid: int) -> tuple[int, int, int]:
    """Inverse of the PMTiles tile id (zoom base + Hilbert index)."""
    z, base = 0, 0
    while base + (1 << (2 * z)) <= tid:
        base += 1 << (2 * z)
        z += 1
    d, x, y, s = tid - base, 0, 0, 1
    while s < (1 << z):
        rx = 1 & (d // 2)
        ry = 1 & (d ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        d //= 4
        s *= 2
    return z, x, y


def read_pmtiles_all(path: str) -> list[tuple[int, int, int, bytes]]:
    """Every addressed tile of a .pmtiles archive, read independently of
    the sink's own reader."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:7] != b"PMTiles":
        raise OutputError(f"{path}: not a PMTiles archive")
    (root_off, root_len, _mo, _ml, leaf_off, _ll, data_off,
     _dl) = struct.unpack_from("<QQQQQQQQ", data, 8)
    out = []

    def walk(off: int, ln: int) -> None:
        for tid, o, n, run in _pmtiles_dir(gzip.decompress(data[off:off + ln])):
            if run == 0:
                walk(leaf_off + o, n)
                continue
            blob = data[data_off + o:data_off + o + n]
            out.extend((*zxy_from_tile_id(t), blob)
                       for t in range(tid, tid + run))

    walk(root_off, root_len)
    return out


def read_mbtiles_all(path: str) -> list[tuple[int, int, int, bytes]]:
    conn = sqlite3.connect(path)
    try:
        rows = conn.execute("SELECT zoom_level, tile_column, tile_row, "
                            "tile_data FROM tiles").fetchall()
    finally:
        conn.close()
    return [(z, x, (1 << z) - 1 - r, bytes(b)) for z, x, r, b in rows]


class OutputError(Exception):
    """A job's output failed its check."""


def check_archive(items, path: str, kind: str,
                  want: dict | None) -> tuple[list[str], dict]:
    """Structural checks on every tile of an archive, plus per-zoom
    counts against the golden (default seed only).  Returns (errors,
    stats)."""
    from tilemaker_spark.kernels import mvt as M
    from tilemaker_spark.sinks.mbtiles import read_mbtiles_tile
    from tilemaker_spark.sinks.pmtiles import read_pmtiles_tile

    errors = []
    per_zoom: dict[str, int] = {}
    sizes = []
    for z, x, y, blob in items:
        per_zoom[str(z)] = per_zoom.get(str(z), 0) + 1
        sizes.append(len(blob))
        try:
            layers = M.decode_tile(blob)
        except Exception as e:  # any decode failure is a bad tile
            errors.append(f"tile {z}/{x}/{y} does not decode: {e!r}")
            continue
        if not layers:
            errors.append(f"tile {z}/{x}/{y} has no layer")
    if not items:
        errors.append("archive holds no tiles")
    if len({(z, x, y) for z, x, y, _ in items}) != len(items):
        errors.append("archive addresses a tile twice")
    reader = read_pmtiles_tile if kind == "pmtiles" else read_mbtiles_tile
    for z, x, y, blob in sorted(items)[::max(1, len(items) // 16)]:
        got = reader(path, z, x, y)
        if got is None or bytes(got) != blob:
            errors.append(f"tile {z}/{x}/{y} does not read back via "
                          f"{reader.__name__}")
    if want is not None and per_zoom != want["per_zoom"]:
        errors.append(f"per-zoom tile counts {per_zoom} != golden "
                      f"{want['per_zoom']}")
    stats = {"per_zoom": per_zoom, "tile_bytes": sum(sizes),
             "max_tile_bytes": max(sizes, default=0),
             "archive_bytes": os.path.getsize(path)}
    return errors, stats


# ========================================================== image_geo

def rollup(assigned, neighbours):
    """Assigned images per z12 tile (sql.tile_exprs), with each image's
    neighbour count from the kNN result."""
    from tilemaker_spark.sql import tile_exprs as TE

    per_q = neighbours.groupBy("query_id").agg(
        F.count("*").alias("n_nb"), F.max("rank").alias("max_rank"))
    z = ROLLUP_ZOOM
    tile = TE.tile_id(z, TE.lon2tilex(F.col("lon"), z),
                      TE.lat2tiley(F.col("lat"), z))
    return (assigned.join(per_q, assigned["image_id"] == per_q["query_id"],
                          "left")
            .groupBy(tile.alias("tile"))
            .agg(F.count("*").alias("images"),
                 F.countDistinct("image_id").alias("distinct_images"),
                 F.sum(F.col("pix_ok").cast("int")).alias("pix_ok"),
                 F.sum(F.coalesce("n_nb", F.lit(0))).alias("neighbours"),
                 F.min(F.coalesce("n_nb", F.lit(0))).alias("min_nb"),
                 F.max("n_nb").alias("max_nb"),
                 F.sum((F.col("max_rank") != F.col("n_nb")).cast("int"))
                 .alias("rank_gaps")))


class ImageGeo:
    """image+caption rows -> decode_verify -> cell PIP against a 360x180
    grid -> self-kNN -> z12 rollup; no OSM, no tiling."""

    name = "image_geo"
    setup_reps = 1  # generation is a Spark job that encodes every image

    def __init__(self, ctx):
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "images.parquet")
        self.n = max(1, int(N_IMAGES * ctx.scale))

    def setup(self) -> dict:
        from tilemaker_spark.sources.synth import images_df

        # images_df derives every value from its row key; the seed picks
        # which key range [offset, offset + n) the run uses.  Partitions
        # are sized so the kept range spreads over nproc tasks.
        slot = self.ctx.seed % SEED_SLOTS
        offset = slot * self.n
        parts = self.ctx.nproc * (slot + 1)
        df = images_df(self.ctx.spark, offset + self.n, partitions=parts)
        df = df.filter(F.col("image_id") >= F.lit(f"img_{offset:012d}"))
        df.write.mode("overwrite").parquet(self.path)
        return {"images": self.n, "key_offset": offset}

    def _stages(self):
        from tilemaker_spark.operators.images import decode_verify
        from tilemaker_spark.operators.knn import knn_join_cell
        from tilemaker_spark.operators.spatial_join import pip_join
        from tilemaker_spark.sources.synth import grid_polygons_df

        spark = self.ctx.spark
        return (
            lambda img: decode_verify(img, passthrough=("lon", "lat")),
            lambda dv: pip_join(dv, grid_polygons_df(spark, 360, 180),
                                strategy="cell", point_id_cols=("image_id",)),
            lambda pj: knn_join_cell(pj, pj, k=KNN_K, cell_zoom=KNN_CELL_ZOOM,
                                     query_id="image_id", cand_id="image_id"),
        )

    def job(self) -> list:
        decode, pip, knn = self._stages()
        img = self.ctx.spark.read.parquet(self.path)
        # the assigned table feeds both the kNN and the rollup: cache it
        # once, as a user of these operators would
        pj = pip(decode(img)).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return rollup(pj, knn(pj)).collect()
        finally:
            pj.unpersist()

    def traced_job(self, tr) -> list:
        decode, pip, knn = self._stages()
        img = self.ctx.spark.read.parquet(self.path)
        with tr.span("job"):
            with tr.span("operators.images.decode_verify") as s:
                s["rows_in"] = self.n
                dv = decode(img).persist(StorageLevel.MEMORY_AND_DISK)
                r = dv.agg(F.count("*"),
                           F.sum(F.col("pix_ok").cast("int"))).first()
                n_dv = s["rows_out"] = r[0]
                s["pix_ok"] = r[1] or 0
            with tr.span("operators.spatial_join.pip_join") as s:
                s["rows_in"] = n_dv
                pj, n_pj = materialize(s, pip(dv))
            with tr.span("operators.knn.knn_join_cell") as s:
                s["rows_in"] = n_pj
                kn, n_kn = materialize(s, knn(pj))
            with tr.span("sql.tile_exprs.rollup") as s:
                s["rows_in"] = n_kn
                rows = rollup(pj, kn).collect()
                s["rows_out"] = len(rows)
        self._keep = (dv, pj, kn)
        return rows

    def after_trace(self, tr, metrics: dict) -> None:
        from tilemaker_spark.operators.knn import knn_cell_audit

        dv, pj, kn = self._keep
        audit = knn_cell_audit(kn, pj, k=KNN_K, cell_zoom=KNN_CELL_ZOOM,
                               query_id="image_id").agg(
            F.avg(F.col("under_filled").cast("double"))).first()[0]
        spans = {s["name"]: s for s in tr.spans}
        d = spans["operators.images.decode_verify"]
        p = spans["operators.spatial_join.pip_join"]
        metrics["operators.images.decode_verify.pix_ok_ratio"] = (
            d["pix_ok"] / max(d["rows_out"], 1))
        metrics["operators.spatial_join.pip_join.match_ratio"] = (
            p["rows_out"] / max(p["rows_in"], 1))
        metrics["operators.knn.knn_join_cell.under_filled_ratio"] = audit
        self.image_sample = [
            (bytes(r["bytes"]), r["fmt"]) for r in
            self.ctx.spark.read.parquet(self.path)
            .select("bytes", "fmt").limit(400).collect()]
        for df in self._keep:
            df.unpersist()

    def replay_inputs(self) -> dict:
        return {"images": self.image_sample}

    def check(self, rows) -> tuple[list[str], dict]:
        n = self.n
        tot = {k: sum(r[k] or 0 for r in rows)
               for k in ("images", "distinct_images", "pix_ok",
                         "neighbours", "rank_gaps")}
        errors = []
        if tot["images"] != n or tot["distinct_images"] != n:
            errors.append(f"PIP rows {tot['images']} (distinct "
                          f"{tot['distinct_images']}) != input rows {n}")
        if tot["pix_ok"] != n:
            errors.append(f"{n - tot['pix_ok']} images fail pix_ok")
        if rows and min(r["min_nb"] for r in rows) < 1:
            errors.append("a query has no neighbour (not even itself)")
        if rows and max(r["max_nb"] or 0 for r in rows) > KNN_K:
            errors.append(f"a query has more than k={KNN_K} neighbours")
        if tot["rank_gaps"]:
            errors.append(f"{tot['rank_gaps']} queries with rank gaps")
        stats = {"items": tot["images"], "neighbours": tot["neighbours"],
                 "z12_tiles": len(rows)}
        g = golden(self.ctx, self.name)
        if g is not None:
            for k in ("neighbours", "z12_tiles"):
                if stats[k] != g[k]:
                    errors.append(f"{k} {stats[k]} != golden {g[k]}")
        return errors, stats


WORKLOADS = {w.name: w for w in (OsmZ14, ImageGeo)}
