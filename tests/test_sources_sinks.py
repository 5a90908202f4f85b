"""GeoJSON source + PMTiles/MBTiles sink round-trips."""

import json
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import REPO
from tilemaker_spark.kernels import geom as G
from tilemaker_spark.sinks import mbtiles, pmtiles
from tilemaker_spark.sources import geojson


def test_geojson_jsonl_packs_every_kind(spark, tmp_path):
    feats = [
        {"type": "Feature", "id": 1,
         "properties": {"name": "pt"},
         "geometry": {"type": "Point", "coordinates": [7.42, 43.73]}},
        {"type": "Feature", "id": 2,
         "properties": {"class": "road"},
         "geometry": {"type": "LineString",
                      "coordinates": [[0, 0], [1, 1], [2, 0]]}},
        {"type": "Feature", "id": 3, "properties": {},
         "geometry": {"type": "Polygon",
                      "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4],
                                       [0, 0]],
                                      [[1, 1], [2, 1], [2, 2], [1, 2],
                                       [1, 1]]]}},
        {"type": "Feature", "id": 4, "properties": {},
         "geometry": {"type": "MultiPoint",
                      "coordinates": [[1, 2], [3, 4], [5, 6]]}},
        {"type": "Feature", "id": 5, "properties": {},
         "geometry": {"type": "MultiLineString",
                      "coordinates": [[[0, 0], [1, 1]],
                                      [[2, 2], [3, 3], [4, 2]]]}},
    ]
    p = tmp_path / "f.jsonl"
    p.write_text("\n".join(json.dumps(f) for f in feats))
    df = geojson.read_geojson(spark, str(p), layer="ext")
    rows = {r["feature_id"]: r for r in df.collect()}
    assert rows[1]["kind"] == G.POINT
    assert rows[1]["attrs"]["name"] == "pt"
    assert rows[2]["kind"] == G.LINESTRING
    assert rows[2]["ring_sizes"] == [3]
    assert rows[3]["kind"] == G.POLYGON
    assert rows[3]["ring_sizes"] == [5, 5]
    assert rows[3]["poly_ring_counts"] == [2]

    assert rows[4]["kind"] == G.POINT
    assert rows[4]["ring_sizes"] == [3]
    assert rows[5]["kind"] == G.MULTILINESTRING
    assert rows[5]["ring_sizes"] == [2, 3]

    # every kind keeps its coordinates, rings in input order
    def flat(c):
        return [float(c)] if not isinstance(c, list) else \
            [v for x in c for v in flat(x)]
    for f in feats:
        assert rows[f["id"]]["coords"] == flat(
            f["geometry"]["coordinates"]), f["id"]


def _read_feature_collection(spark, tmp_path, ids):
    """Point features numbered a=0.. carrying ``ids`` (None: no "id")
    -> {a: feature_id} read back through a FeatureCollection file."""
    feats = []
    for a, fid in enumerate(ids):
        ft = {"type": "Feature", "properties": {"a": str(a)},
              "geometry": {"type": "Point", "coordinates": [a, 2.0]}}
        if fid is not None:
            ft["id"] = fid
        feats.append(ft)
    p = tmp_path / "fc.geojson"
    p.write_text(json.dumps({"type": "FeatureCollection",
                             "features": feats}))
    rows = geojson.read_geojson(spark, str(p)).collect()
    assert sorted(r["coords"][0] for r in rows) == list(range(len(ids)))
    return {int(r["attrs"]["a"]): r["feature_id"] for r in rows}


def test_geojson_featurecollection(spark, tmp_path):
    # every feature has its own integer id (a numeric string counts): the
    # ids win, as in the JSONL reader
    assert _read_feature_collection(spark, tmp_path, [7, "12"]) == \
        {0: 7, 1: 12}


def test_geojson_id_fallback(spark, tmp_path):
    # the index numbers every feature when any id is missing, not an
    # integer or repeated, so (feature_id, layer) stays unique in a file
    for ids in ([None, 0], [0, "way/123"], [5, 5], [None, True]):
        assert _read_feature_collection(spark, tmp_path, ids) == \
            {0: 0, 1: 1}, ids
    # JSONL: a string id (RFC 7946 allows one) falls back to the line's
    # hash, an integer id is kept
    p = tmp_path / "s.jsonl"
    p.write_text("\n".join(json.dumps(
        {"type": "Feature", "id": fid, "properties": {"a": str(a)},
         "geometry": {"type": "Point", "coordinates": [1, 2]}})
        for a, fid in enumerate(["way/123", 5])))
    got = {int(r["attrs"]["a"]): r["feature_id"]
           for r in geojson.read_geojson(spark, str(p)).collect()}
    assert got[1] == 5 and 0 <= got[0] < 2**63 and got[0] != 5


def test_geojson_attribute_function_minzoom_in_tiling(spark, tmp_path):
    """The remapped _minzoom is honored by the tile builder: a z7-gated
    feature appears at z7 but not z6 (distributed JSONL path, so the
    callable also proves picklable)."""
    import pyspark.sql.functions as F

    from tilemaker_spark.config import Config, LayerDef
    from tilemaker_spark.operators.tiling import generate_tiles

    feats = [
        {"type": "Feature", "id": 1, "properties": {"z": "7"},
         "geometry": {"type": "Point", "coordinates": [7.42, 43.73]}},
        # nearby but distinct geometry (same z6/z7 tile) — identical
        # geometry+attrs would be collapsed by the in-tile dedup
        {"type": "Feature", "id": 2, "properties": {},
         "geometry": {"type": "Point", "coordinates": [7.43, 43.74]}},
    ]
    p = tmp_path / "f.jsonl"
    p.write_text("\n".join(json.dumps(f) for f in feats))

    def remap(attrs, layer):
        out = {"kept": "1"}
        if "z" in attrs:
            out["_minzoom"] = int(attrs["z"])
        return out

    df = geojson.read_geojson(spark, str(p), layer="poi",
                              attribute_function=remap)
    got = {r["feature_id"]: r for r in df.collect()}
    assert got[1]["minzoom"] == 7 and got[2]["minzoom"] == 0
    assert got[1]["attrs"] == {"kept": "1"}

    cfg = Config()
    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 6, 7, 7
    # combine_points off so the two points stay separate MVT features
    # (countable); otherwise they merge into one multipoint
    cfg.layers = {"poi": LayerDef("poi", minzoom=0, maxzoom=7,
                                  combine_points=False)}
    tiles = generate_tiles(df, cfg)
    per_zoom = {r["z"]: r["n"] for r in
                tiles.groupBy("z").agg(F.count("*").alias("n")).collect()}
    # both features land in one z6 tile and one z7 tile; the z7-gated
    # feature must not contribute at z6 (the tiles exist either way —
    # so compare decoded feature counts)
    from tilemaker_spark.kernels import mvt
    z6 = [bytes(r["tile"]) for r in tiles.filter("z = 6").collect()]
    z7 = [bytes(r["tile"]) for r in tiles.filter("z = 7").collect()]
    assert len(z6) == 1 and len(z7) == 1

    def n_feats(blob):
        layers = mvt.decode_tile(blob)
        return sum(len(v["features"]) for v in layers.values())

    assert n_feats(z6[0]) == 1      # only the ungated feature
    assert n_feats(z7[0]) == 2      # both at z7
    import gzip
    rows = [(z, x, y, gzip.compress(f"tile-{z}/{x}/{y}".encode(), 6))
            for z in (3, 4) for x in range(2) for y in range(2)]
    tiles = spark.createDataFrame(rows, "z int, x int, y int, tile binary")
    path = str(tmp_path / "t.pmtiles")
    n = pmtiles.write_pmtiles(tiles, path, {"minzoom": "3"})
    assert n == 8
    stats = pmtiles.pmtiles_stats(path)
    assert stats["n_tiles"] == 8
    assert stats["minzoom"] == 3 and stats["maxzoom"] == 4
    # no bounds given: the world to the Web Mercator latitude limit
    with open(path, "rb") as f:
        header = f.read(pmtiles.HEADER_SIZE)
    assert struct.unpack_from("<iiii", header, 102) == (
        -1800000000, -850511000, 1800000000, 850511000)
    assert struct.unpack_from("<Bii", header, 118) == (3, 0, 0)
    blob = pmtiles.read_pmtiles_tile(path, 4, 1, 0)
    assert gzip.decompress(blob) == b"tile-4/1/0"
    assert pmtiles.read_pmtiles_tile(path, 5, 0, 0) is None


def test_pmtiles_hilbert_ids():
    # z0 has 1 tile, id 0; z1 starts at 1; z2 starts at 5
    assert pmtiles.tile_id(0, 0, 0) == 0
    assert pmtiles.tile_id(1, 0, 0) == 1
    assert pmtiles.tile_id(2, 0, 0) == 5
    # all z1 ids distinct and within [1, 5)
    ids = {pmtiles.tile_id(1, x, y) for x in (0, 1) for y in (0, 1)}
    assert ids == {1, 2, 3, 4}


def test_pmtiles_leaf_directories(spark, tmp_path, monkeypatch):
    """>4096 entries + tiny root budget => leaf dirs; root entries carry
    run_length=0 (PMTiles v3 leaf-pointer marker) and lookups still work."""
    import gzip
    import struct
    # shrink the root budget so the leaf path triggers at modest entry
    # count (data now written in tile-id order -> contiguous offsets
    # encode as zeros, so even 5184-entry directories compress to ~200 B)
    monkeypatch.setattr(pmtiles, "ROOT_DIR_SPACE", 64)
    rows = [(7, x, y, gzip.compress(f"t{x}-{y}".encode(), 1))
            for x in range(72) for y in range(72)]  # 5184 > 4096 entries
    tiles = spark.createDataFrame(rows, "z int, x int, y int, tile binary")
    path = str(tmp_path / "leafy.pmtiles")
    n = pmtiles.write_pmtiles(tiles, path)
    assert n == 5184
    with open(path, "rb") as f:
        header = f.read(pmtiles.HEADER_SIZE)
        root_off, root_len = struct.unpack_from("<QQ", header, 8)
        leaf_off, leaf_len = struct.unpack_from("<QQ", header, 40)
        assert leaf_len > 0
        f.seek(root_off)
        root = pmtiles._decode_directory(gzip.decompress(f.read(root_len)))
    # spec: every root entry that points at a leaf has run_length == 0
    assert len(root) == 2  # 5184 entries / 4096 per leaf
    assert all(e[3] == 0 for e in root)
    # random lookups resolve through the leaves
    for x, y in [(0, 0), (71, 71), (40, 3), (3, 40)]:
        blob = pmtiles.read_pmtiles_tile(path, 7, x, y)
        assert gzip.decompress(blob) == f"t{x}-{y}".encode()
    assert pmtiles.read_pmtiles_tile(path, 7, 100, 100) is None


def test_mbtiles_feature_merge(spark, tmp_path):
    """merge=True concatenates features into the existing tile (reference
    --merge, src/tile_worker.cpp:452-465) — not whole-tile replace."""
    import numpy as np
    from tilemaker_spark.kernels import mvt

    def one_tile(name, attr):
        lb = mvt.LayerBuilder("poi")
        cmds = mvt.encode_point_geom(np.array([[0.5, 0.5]]), 4096)
        lb.add_feature(mvt.GEOM_POINT, cmds, {"n": attr})
        return mvt.build_tile([lb])

    path = str(tmp_path / "m.mbtiles")
    t1 = spark.createDataFrame([(5, 1, 2, one_tile("poi", "old"))],
                               "z int, x int, y int, tile binary")
    mbtiles.write_mbtiles(t1, path)
    t2 = spark.createDataFrame([(5, 1, 2, one_tile("poi", "new"))],
                               "z int, x int, y int, tile binary")
    mbtiles.write_mbtiles(t2, path, merge=True)
    blob = mbtiles.read_mbtiles_tile(path, 5, 1, 2)
    dec = mvt.decode_tile(blob)
    names = sorted(f["attrs"]["n"] for f in dec["poi"]["features"])
    assert names == ["new", "old"]


def test_vector_layers_metadata(spark, tmp_path):
    import sys
    from tilemaker_spark.config import Config, LayerDef
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    cfg = Config(layers={
        "roads": LayerDef("roads", minzoom=6, maxzoom=14,
                          attr_types={"lanes": "Integer", "oneway": "Boolean",
                                      "ref": "Text"},
                          attr_minzoom={"class": 8}),
        "labels": LayerDef("labels", minzoom=10, maxzoom=14,
                           write_to="roads"),
    })
    vl = J.vector_layers(cfg)
    assert [v["id"] for v in vl] == ["roads"]  # write_to layer skipped
    assert vl[0]["fields"] == {"class": "String", "lanes": "Number",
                               "oneway": "Boolean", "ref": "String"}
    assert vl[0]["minzoom"] == 6 and vl[0]["maxzoom"] == 14
    # stored under the json metadata key
    from tilemaker_spark.kernels import mvt
    lb = mvt.LayerBuilder("roads")
    lb.add_feature(mvt.GEOM_POINT,
                   mvt.encode_point_geom(np.array([[0.5, 0.5]]), 4096),
                   {"class": "primary", "lanes": 2})
    tiles = spark.createDataFrame([(6, 0, 0, mvt.build_tile([lb]))],
                                  "z int, x int, y int, tile binary")
    path = str(tmp_path / "vl.mbtiles")
    mbtiles.write_mbtiles(tiles, path, {"vector_layers": vl})
    meta = mbtiles.mbtiles_stats(path)["metadata"]
    assert json.loads(meta["json"]) == {"vector_layers": vl}
    assert "vector_layers" not in meta


def _entries_per_tile(tids, offs, lens):
    """Reference RLE rule, one entry at a time (the reference's
    appendWithRLE, src/pmtiles.cpp:102-111): an entry whose tile id
    continues the previous run AND shares its data offset extends that
    run."""
    entries: list[list[int]] = []
    for tid, off, ln in zip(tids, offs, lens):
        if (entries and entries[-1][1] == off
                and entries[-1][0] + entries[-1][3] == tid):
            entries[-1][3] += 1
        else:
            entries.append([tid, off, ln, 1])
    return [tuple(e) for e in entries]


def test_pmtiles_dense_sparse_equivalence(spark, tmp_path):
    """The vectorized whole-index RLE pass emits the same entries as the
    reference's per-entry append, on seeded runs with gaps, repeated
    offsets and an empty index; archives built with it read back."""
    import gzip
    rng = np.random.default_rng(11)
    assert pmtiles._rle_entries([], [], []) == _entries_per_tile([], [], [])
    for _ in range(50):
        n = int(rng.integers(1, 300))
        tids = np.cumsum(rng.integers(1, 3, n))       # gaps of one id
        fresh = rng.random(n) < 0.4                   # else reuse offset
        offs = np.cumsum(np.where(fresh, rng.integers(1, 50, n), 0))
        lens = rng.integers(1, 50, n)
        args = (tids.tolist(), offs.tolist(), lens.tolist())
        assert pmtiles._rle_entries(*args) == _entries_per_tile(*args)
    rng_rows = []
    sea = gzip.compress(b"", 6, mtime=0)  # one shared empty-sea blob
    for x in range(40):
        for y in range(40):
            blob = (sea if (x + y) % 3 else
                    gzip.compress(f"land-{x}-{y}".encode(), 6, mtime=0))
            rng_rows.append((8, x, y, blob))
    tiles = spark.createDataFrame(rng_rows, "z int, x int, y int, tile binary")
    path = str(tmp_path / "d.pmtiles")
    assert pmtiles.write_pmtiles(tiles, path) == 1600
    assert gzip.decompress(
        pmtiles.read_pmtiles_tile(path, 8, 3, 6)) == b"land-3-6"
    assert pmtiles.read_pmtiles_tile(path, 8, 1, 0) == sea


def test_pmtiles_rle_and_tiny_dedup(spark, tmp_path):
    """Identical tiny blobs (sea tiles) are written once (tinyCache,
    src/pmtiles.cpp:135-141) and contiguous same-offset runs collapse to
    RLE entries (appendWithRLE, :102-111): contents < entries <
    addressed, every logical tile still resolves, and the archive is
    dramatically smaller than one-blob-per-tile."""
    import gzip
    sea = gzip.compress(b"sea", 6, mtime=0)
    rows = [(8, x, y, sea) for x in range(32) for y in range(32)]
    rows.append((8, 200, 200, gzip.compress(b"port", 6, mtime=0)))
    tiles = spark.createDataFrame(rows, "z int, x int, y int, tile binary")
    path = str(tmp_path / "rle.pmtiles")
    n = pmtiles.write_pmtiles(tiles, path)
    assert n == 1025
    st = pmtiles.pmtiles_stats(path)
    assert st["n_tiles"] == 1025
    assert st["n_contents"] == 2          # sea blob written once + port
    # the 32x32 block is one contiguous Hilbert range at z8 -> few runs
    assert st["n_entries"] < 64
    # adjacent-run dedup (every reuse points at the immediately
    # preceding blob) keeps the data section in tile-id order, so the
    # archive stays clustered — the ocean-tile common case
    assert st["clustered"]
    assert os.path.getsize(path) < 1025 * len(sea)
    for x, y in [(0, 0), (31, 31), (17, 4)]:
        assert pmtiles.read_pmtiles_tile(path, 8, x, y) == sea
    assert gzip.decompress(
        pmtiles.read_pmtiles_tile(path, 8, 200, 200)) == b"port"
    assert pmtiles.read_pmtiles_tile(path, 8, 100, 100) is None


def test_pmtiles_nonadjacent_reuse_unclusters(spark, tmp_path):
    """A dedup hit pointing PAST the previous entry's blob (sea ...
    port ... sea again in tile-id order) breaks tile-id data order and
    must clear the clustered flag."""
    import gzip
    sea = gzip.compress(b"sea", 6, mtime=0)
    port = gzip.compress(b"port", 6, mtime=0)
    # (0,0) and (1,0) are tid 0,1; (0,1) is tid 3 at z8 (Hilbert visits
    # (0,0),(1,0),(1,1),(0,1) in the first sub-square) — so the write
    # order is sea, port, sea: the second sea reuses offset 0 behind
    # port's blob
    rows = [(8, 0, 0, sea), (8, 1, 0, port), (8, 0, 1, sea)]
    tiles = spark.createDataFrame(rows, "z int, x int, y int, tile binary")
    path = str(tmp_path / "nonadj.pmtiles")
    assert pmtiles.write_pmtiles(tiles, path) == 3
    st = pmtiles.pmtiles_stats(path)
    assert st["n_contents"] == 2
    assert not st["clustered"]
    assert pmtiles.read_pmtiles_tile(path, 8, 0, 1) == sea


def test_wkb_point_roundtrip_both_endians(spark):
    """Packed doubles come back BIT-EXACT through the vectorized
    parser, for both byte orders in one batch."""
    from pyspark.sql import functions as F
    from tilemaker_spark.sources import wkb as W
    vals = [(0, 2.2945, 48.858222), (1, -171.75, -54.001),
            (2, 179.9999999, 85.0511), (3, 0.0, 0.0)]
    rows = [(i, W.wkb_point(lo, la, little=(i % 2 == 0)))
            for i, lo, la in vals]
    df = spark.createDataFrame(rows, "geom_id long, wkb binary")
    got = {r["geom_id"]: (r["lon"], r["lat"])
           for r in W.points_from_wkb(df).collect()}
    for i, lo, la in vals:
        assert got[i] == (lo, la), i
    # non-point blob raises loudly, not silently drops
    poly = W.wkb_polygon([[(0, 0), (1, 0), (1, 1), (0, 0)]])
    bad = spark.createDataFrame([(9, poly)], "geom_id long, wkb binary")
    import pytest as _pytest
    with _pytest.raises(Exception):
        W.points_from_wkb(bad).collect()


def test_wkb_polygon_roundtrip_and_pip(spark):
    """Polygon WKB (outer + hole, both endians) parses to the internal
    flat closed-ring layout, and the parsed coords drive the PIP
    expression identically to hand-built coords."""
    from pyspark.sql import functions as F
    from tilemaker_spark.sources import wkb as W
    from tilemaker_spark.operators.spatial_join import points_in_mp_expr
    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
             (0.0, 0.0)]
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)]
    flat = [c for ring in (outer, hole) for xy in ring for c in xy]
    for little in (True, False):
        blob = W.wkb_polygon([outer, hole], little=little)
        df = spark.createDataFrame([(1, blob)], "poly_id long, wkb binary")
        got = W.polygons_from_wkb(df).collect()[0]
        assert got["coords"] == flat, little
        assert got["ring_sizes"] == [5, 5], little
    # PIP through the parsed coords: inside outer yes, inside hole no
    poly_df = W.polygons_from_wkb(
        spark.createDataFrame([(1, W.wkb_polygon([outer, hole]))],
                              "poly_id long, wkb binary"))
    pts = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 5.0, 5.0), (2, 11.0, 5.0)],
        "pid long, px double, py double")
    j = pts.crossJoin(poly_df).select(
        "pid", points_in_mp_expr(F.col("px"), F.col("py"),
                                 F.col("coords"),
                                 F.col("ring_sizes")).alias("inside"))
    got = {r["pid"]: r["inside"] for r in j.collect()}
    assert got == {0: True, 1: False, 2: False}


def test_wkb_polygon_rejects_malformed(spark):
    from tilemaker_spark.sources import wkb as W
    import pytest as _pytest
    # unclosed ring
    blob = W.wkb_polygon([[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0)]])
    df = spark.createDataFrame([(1, blob)], "poly_id long, wkb binary")
    with _pytest.raises(Exception):
        W.polygons_from_wkb(df).collect()
    # wrong geometry type
    pt = W.wkb_point(1.0, 2.0)
    df2 = spark.createDataFrame([(1, pt)], "poly_id long, wkb binary")
    with _pytest.raises(Exception):
        W.polygons_from_wkb(df2).collect()


def test_geojson_jsonl_fallback_ids_unique_across_partitions(spark, tmp_path):
    """Features without an "id" must get globally unique fallback ids
    even when the file splits into several read partitions (a per-batch
    counter would collide between chunks)."""
    feats = [{"type": "Feature", "properties": {"i": str(i)},
              "geometry": {"type": "Point", "coordinates": [0.0, 0.0]}}
             for i in range(50)]
    paths = []
    for part in range(4):  # several files -> several partitions
        p = tmp_path / f"part{part}.jsonl"
        p.write_text("\n".join(json.dumps(f) for f in feats))
        paths.append(str(p))
    df = geojson.read_geojson(spark, str(tmp_path / "*.jsonl"), layer="x")
    ids = [r["feature_id"] for r in df.select("feature_id").collect()]
    assert len(ids) == 200
    assert len(set(ids)) == 200


def test_geojson_jsonl_fallback_ids_ignore_read_splits(spark, tmp_path):
    """An id-less line's fallback id is the same however the read splits
    the file into partitions; identical id-less lines are one feature."""
    feats = [{"type": "Feature", "properties": {"i": str(i % 30)},
              "geometry": {"type": "Point", "coordinates": [0.0, 0.0]}}
             for i in range(40)]  # lines 30-39 repeat lines 0-9
    p = tmp_path / "f.jsonl"
    p.write_text("\n".join(json.dumps(f) for f in feats))

    def ids():
        df = geojson.read_geojson(spark, str(p))
        rows = df.select("feature_id", "attrs").collect()
        return df.rdd.getNumPartitions(), sorted(
            (int(r["attrs"]["i"]), r["feature_id"]) for r in rows)

    key = "spark.sql.files.maxPartitionBytes"
    parts, default = ids()
    old = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        split_parts, split = ids()
    finally:
        spark.conf.set(key, old)
    assert parts == 1 and split_parts > 4
    assert split == default
    assert len({fid for _, fid in default}) == 30
    assert all(0 <= fid < 2**63 for _, fid in default)
