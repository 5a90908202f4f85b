"""PBF encoder round-trip + country-scale synthetic extract e2e.

The BASELINE evidence plan calls for an end-to-end run at ~20x the monaco
fixture (Liechtenstein-extract scale: ~1M nodes / ~100k ways).  The
sandbox has no network for a real Geofabrik file, so
sources/synth_osm.py synthesizes a deterministic extract and
kernels/pbf_write.py serializes it as a real .osm.pbf.  Default-suite
tests cover the encoder round-trip and a scaled-down (identical
structure) end-to-end job; the full 1M-node job is gated behind
SPARK_GRAFT_SLOW=1 (runs several minutes) and locks tile-count goldens.
"""

import hashlib
import os
import re
import sqlite3
import struct
import subprocess
import sys

import numpy as np
import pytest

from tilemaker_spark.kernels import mvt, pbf, pbf_write as W, wire

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_varint_pack_roundtrip():
    rng = np.random.default_rng(7)
    edge_u = np.array([0, 1, 127, 128, 300, 2**32, 2**56 + 5, 2**63,
                       2**64 - 1], dtype=np.uint64)
    rand_u = rng.integers(0, 2**62, 500).astype(np.uint64)
    for arr in (edge_u, rand_u):
        assert wire.packed_varints(wire.pack_uvarints(arr)) == arr.tolist()
        for v in arr.tolist():
            assert wire.varint(v) == wire.pack_uvarints([v])
    edge_s = np.array([0, -1, 1, -64, 64, -(2**40), 2**40, -(2**62)],
                      dtype=np.int64)
    rand_s = rng.integers(-2**40, 2**40, 500).astype(np.int64)
    for arr in (edge_s, rand_s):
        assert wire.packed_varints(wire.pack_svarints(arr),
                                   signed=True) == arr.tolist()
        for v in arr.tolist():
            assert wire.unzigzag(wire.zigzag(v)) == v
    # a negative int64 is its 64-bit two's complement: ten bytes
    assert len(wire.varint(-1)) == 10
    assert wire.read_varint(wire.varint(-1), 0) == (2**64 - 1, 10)


def test_wire_fields():
    import struct
    msg = (wire.field_varint(1, 300)
           + wire.tag(2, 1) + struct.pack("<d", 1.5)
           + wire.field_bytes(3, b"abc")
           + wire.tag(4, 5) + struct.pack("<f", 2.5))
    got = list(wire.fields(msg))
    assert [(f, w) for f, w, _ in got] == [(1, 0), (2, 1), (3, 2), (4, 5)]
    assert got[0][2] == 300
    assert struct.unpack("<d", got[1][2]) == (1.5,)
    assert got[2][2] == b"abc"
    assert struct.unpack("<f", got[3][2]) == (2.5,)
    with pytest.raises(ValueError):
        list(wire.fields(wire.tag(5, 3)))
    # an MVT tile holds only length-delimited layers
    with pytest.raises(ValueError, match="tile level"):
        mvt.decode_tile(wire.field_varint(3, 1))


def test_pbf_write_roundtrip(tmp_path):
    nodes = [(1, 7.42, 43.73, {"amenity": "cafe", "name": "x"}),
             (5, 7.4201, 43.7301, None),
             (9, -0.1, 51.5, {"place": "city"})]
    ways = [(10, [1, 5, 9], {"highway": "primary"}),
            (11, [9, 5, 1, 9], {"building": "yes"})]
    rels = [(20, [(1, 10, "outer"), (1, 11, "inner"), (0, 5, "label")],
             {"type": "multipolygon"})]
    p = str(tmp_path / "rt.pbf")
    info = W.write_pbf(p, nodes, ways, rels, (-0.1, 43.73, 7.4201, 51.5))
    assert info == {"blobs": 4, "nodes": 3, "ways": 2, "relations": 1}

    hdr, ents = pbf.decode_file(p)
    assert hdr["bbox"] == pytest.approx((-0.1, 43.73, 7.4201, 51.5))
    assert "Sort.Type_then_ID" in hdr["features"]
    got = ents.nodes
    assert [n[0] for n in got] == [1, 5, 9]
    for (nid, lon, lat, tags), exp in zip(got, nodes):
        assert lon == pytest.approx(exp[1], abs=1e-7)
        assert lat == pytest.approx(exp[2], abs=1e-7)
        assert tags == (exp[3] or {})
    assert ents.ways == [(10, [1, 5, 9], {"highway": "primary"}),
                         (11, [9, 5, 1, 9], {"building": "yes"})]
    assert ents.relations == [
        (20, [(1, 10, "outer"), (1, 11, "inner"), (0, 5, "label")],
         {"type": "multipolygon"})]


KINDS = ("nodes", "ways", "relations")


def _assert_kind_selective(raw: bytes):
    """decode_block(raw, kind) is exactly kind's list of the full decode,
    with the other kinds' lists left empty."""
    full = pbf.decode_block(raw)
    for kind in KINDS:
        part = pbf.decode_block(raw, kind)
        for other in KINDS:
            want = getattr(full, kind) if other == kind else []
            assert getattr(part, other) == want, (kind, other)


def test_decode_block_kind_selective(synth_pbf):
    data = [r for r in pbf.scan_blobs(synth_pbf) if r.kind == "OSMData"]
    assert len(data) == 5
    for ref in data:
        _assert_kind_selective(pbf.read_blob(synth_pbf, ref))


def test_decode_block_kind_selective_mixed_block():
    """One block holding a DenseNodes group and a Way group over one
    string table: each kind decodes on its own."""
    strings = ["", "amenity", "cafe", "highway", "primary"]
    dense = (wire.field_bytes(1, wire.pack_svarints([7, 1]))    # ids 7, 8
             + wire.field_bytes(8, wire.pack_svarints([100, 5]))
             + wire.field_bytes(9, wire.pack_svarints([200, -5]))
             + wire.field_bytes(10, wire.pack_uvarints([1, 2, 0, 0])))
    way = (wire.field_varint(1, 30)
           + wire.field_bytes(2, wire.pack_uvarints([3]))
           + wire.field_bytes(3, wire.pack_uvarints([4]))
           + wire.field_bytes(8, wire.pack_svarints([7, 1])))
    raw = (wire.field_bytes(1, b"".join(wire.field_bytes(1, s.encode())
                                        for s in strings))
           + wire.field_bytes(2, wire.field_bytes(2, dense))
           + wire.field_bytes(2, wire.field_bytes(3, way)))
    full = pbf.decode_block(raw)
    assert [(n[0], n[3]) for n in full.nodes] == [(7, {"amenity": "cafe"}),
                                                   (8, {})]
    assert full.ways == [(30, [7, 8], {"highway": "primary"})]
    _assert_kind_selective(raw)


# the osm_z14 build of the seed-42 extract (test_synth_small_z14_tile_bytes)
Z14_SHA256 = ("43063a75a49785659ee09e89f11db1ec"
              "14dcbdef98abbc36004568f0b5f20e18")


def tiles_sha256(rows) -> str:
    """sha256 over (z, x, y, tile) rows in (z, x, y) order: pins tile
    bytes, not just counts."""
    h = hashlib.sha256()
    for z, x, y, tile in sorted(rows, key=lambda r: r[:3]):
        h.update(struct.pack("<iiiI", z, x, y, len(tile)))
        h.update(bytes(tile))
    return h.hexdigest()


@pytest.fixture(scope="module")
def synth_small(tmp_path_factory):
    from tilemaker_spark.sources.synth_osm import write_synth_pbf
    p = str(tmp_path_factory.mktemp("synth") / "country.pbf")
    info = write_synth_pbf(p, seed=42, scale=0.02)
    return p, info


def test_synth_country_structure(synth_small):
    path, info = synth_small
    # deterministic generator: same seed -> same entity counts
    assert info["nodes"] == 20005 and info["ways"] == 1920
    assert info["relations"] == 24

    hdr, ents = pbf.decode_file(path)
    assert hdr["bbox"] == pytest.approx((9.47, 47.05, 9.64, 47.27))
    assert len(ents.nodes) == info["nodes"]
    assert len(ents.ways) == info["ways"]
    assert len(ents.relations) == info["relations"]

    node_ids = {n[0] for n in ents.nodes}
    way_ids = {w[0] for w in ents.ways}
    closed = 0
    for _, refs, tags in ents.ways:
        assert set(refs) <= node_ids           # referential integrity
        if refs[0] == refs[-1]:
            closed += 1
        if tags and "building" in tags:
            assert len(refs) == 5 and refs[0] == refs[-1]
    assert closed > len(ents.ways) * 0.5       # buildings + areas closed

    mps = [r for r in ents.relations
           if r[2].get("type") == "multipolygon"]
    assert mps
    for _, members, _ in mps:
        roles = {role for _, _, role in members}
        assert roles == {"outer", "inner"}
        assert all(t == 1 and ref in way_ids for t, ref, _ in members)

    # ~25% of nodes are untagged dead weight for the used-closure to prune
    tagged = sum(1 for n in ents.nodes if n[3])
    assert 0.03 < tagged / len(ents.nodes) < 0.12

    # skew: the top z14 tile holds far more than the uniform share
    from tilemaker_spark.kernels.proj import lon2tilex, lat2tiley
    xs = np.array([lon2tilex(n[1], 14) for n in ents.nodes])
    ys = np.array([lat2tiley(n[2], 14) for n in ents.nodes])
    _, counts = np.unique(xs * 100000 + ys, return_counts=True)
    assert counts.max() > 3 * counts.mean()


def test_synth_small_job_e2e(spark, synth_small, tmp_path):
    """Full job surface on the scaled-down extract: decode -> assemble ->
    profile -> tiles -> mbtiles, every layer of the openmaptiles-lite
    profile populated."""
    path, _ = synth_small
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.operators.tiling import generate_tiles
    from tilemaker_spark.sinks import mbtiles as MB

    features, cfg = J.read_features(spark, path)
    by_layer = {r["layer"]: r["count"]
                for r in features.groupBy("layer").count().collect()}
    for layer in ("transportation", "building", "landuse", "water", "poi",
                  "place"):
        assert by_layer.get(layer, 0) > 0, f"layer {layer} empty"

    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 0, 12, 12
    tiles = generate_tiles(features, cfg)
    out = str(tmp_path / "country.mbtiles")
    n = MB.write_mbtiles(tiles, out)
    assert n == 24  # deterministic golden (seed 42, scale 0.02, z<=12)

    conn = sqlite3.connect(out)
    zooms = [z for (z,) in conn.execute(
        "SELECT DISTINCT zoom_level FROM tiles ORDER BY 1")]
    digest = tiles_sha256(conn.execute(
        "SELECT zoom_level, tile_column, (1 << zoom_level) - 1 - tile_row, "
        "tile_data FROM tiles"))
    conn.close()
    assert zooms[-1] == 12 and len(zooms) >= 4
    assert digest == ("15b612e87a821aefe6b016d91c5921a5"
                      "96736088b9a3ae4a1b85681b79da6f5e")

    # one z12 tile decodes back with multiple layers present
    from tilemaker_spark.kernels import mvt
    row = [r for r in tiles.filter("z = 12").limit(1).collect()][0]
    import gzip
    layers = mvt.decode_tile(gzip.decompress(bytes(row["tile"])))
    assert len(layers) >= 2


def test_synth_small_z14_tile_bytes(spark, synth_small):
    """The benchmark's osm_z14 build (seed 42, scale 0.02, z0-14, 4096
    extent) pinned byte for byte: every tile's bytes, not just counts."""
    path, _ = synth_small
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.operators.tiling import generate_tiles

    features, cfg = J.read_features(spark, path)
    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 0, 14, 14
    cfg.high_resolution = False
    rows = [tuple(r) for r in generate_tiles(features, cfg).select(
        "z", "x", "y", "tile").collect()]
    assert len(rows) == 200
    assert tiles_sha256(rows) == Z14_SHA256


@pytest.fixture(scope="module")
def synth_features(spark, synth_small):
    """The seed-42 feature table, cached for the tests that build it
    many ways."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    features, _ = J.read_features(spark, synth_small[0])
    features = features.cache()
    features.count()
    yield features
    features.unpersist()


def _z14_config(cfg):
    """The osm_z14 build: z0-14, 4096 extent."""
    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 0, 14, 14
    cfg.high_resolution = False
    return cfg


def test_tile_bytes_ignore_row_order_and_partitioning(spark, synth_small):
    """The seed-42 z0-14 tiles come out byte for byte as the golden
    whatever order and partitioning the features arrive in: as read,
    reversed, shuffled, in one partition and in seven, each under 1 and
    13 shuffle partitions."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from pyspark.sql import functions as F
    from tilemaker_spark.operators.tiling import generate_tiles

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for shuffle in (1, 13):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            features, cfg = J.read_features(spark, synth_small[0])
            features = features.cache()
            cfg = _z14_config(cfg)
            pos = features.withColumn("_pos", F.monotonically_increasing_id())
            orders = {
                "as read": features,
                "reversed": pos.orderBy(F.col("_pos").desc()).drop("_pos"),
                "shuffled": features.orderBy(F.rand(7)),
                "one partition": features.repartition(1),
                "seven partitions": features.repartition(7)}
            for name, df in orders.items():
                rows = [tuple(r) for r in generate_tiles(df, cfg).select(
                    "z", "x", "y", "tile").collect()]
                assert tiles_sha256(rows) == Z14_SHA256, (shuffle, name)
            features.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _feature_rich_config(cfg):
    """The openmaptiles-lite config with every ``_build_one_tile`` branch
    it leaves off turned on: typed and zoom-gated attributes, uncombined
    points, polygon union, Visvalingam and building simplification, a
    line-layer feature limit, write_to, ids, a clip box and the 8192
    extent."""
    L = cfg.layers
    L["place"].attr_types = {"name": "Boolean"}
    L["place"].attr_minzoom = {"name": 10}
    L["place"].write_to = "poi"
    L["poi"].combine_points = False
    L["poi"].attr_minzoom = {"name": 14}
    L["landuse"].combine_polygons_below = 13
    L["transportation"].simplify_algorithm = "visvalingam"
    L["transportation"].feature_limit = 12
    L["transportation"].feature_limit_below = 14
    L["landuse"].simplify_algorithm = "buildings"
    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 0, 14, 14
    cfg.include_ids = True
    cfg.high_resolution = True
    cfg.clip_bbox = (9.50, 47.08, 9.60, 47.22)
    return cfg


def test_synth_feature_rich_tile_bytes(spark, synth_small):
    """Tile bytes pinned under a config that reaches every per-tile
    branch the default profile skips (see _feature_rich_config)."""
    path, _ = synth_small
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.operators.tiling import generate_tiles

    features, cfg = J.read_features(spark, path)
    cfg = _feature_rich_config(cfg)
    rows = [tuple(r) for r in generate_tiles(features, cfg).select(
        "z", "x", "y", "tile").collect()]
    assert tiles_sha256(rows) == ("d639f0a52968da4f8112e5f0282fd2ae"
                                  "03300affe42c18b1f83c9abfa0a01e91")


def _line_feature_limit_config(cfg):
    """The osm_z14 build with transportation cut to 3 features per tile
    below z14: the cut decides which roads reach the z_s - 1 clips."""
    cfg = _z14_config(cfg)
    cfg.layers["transportation"].feature_limit = 3
    cfg.layers["transportation"].feature_limit_below = 14
    return cfg


def _minzoom_13_config(cfg):
    """The osm_z14 build from z13 up: no tile above z13, so no clip is
    handed over wherever z_s <= 13."""
    cfg = _z14_config(cfg)
    cfg.minzoom = 13
    return cfg


SPLIT_CASES = {"openmaptiles_lite": _z14_config,
               "feature_rich": _feature_rich_config,
               "line_feature_limit": _line_feature_limit_config,
               "minzoom_above_split": _minzoom_13_config}


@pytest.mark.parametrize("case", sorted(SPLIT_CASES))
def test_split_zoom_keeps_tile_bytes(spark, synth_features, monkeypatch,
                                     case):
    """build_tiles split at z_s = 7, 9, 12 or 14 (the base zoom) gives
    the bytes of the unsplit build (z_s <= CLUSTER_ZOOM): the z_s groups
    clip from the z_s - 1 clips pass 1 hands over, so the clip pyramid,
    feature_limit and minzoom visibility are the unsplit build's."""
    from tilemaker_spark.operators import tiling
    from tilemaker_spark.plans.profile import openmaptiles_lite

    def digest(z_s):
        cfg = SPLIT_CASES[case](openmaptiles_lite()[1])
        monkeypatch.setattr(tiling, "SPLIT_DEPTH", cfg.basezoom - z_s)
        rows = [tuple(r) for r in tiling.generate_tiles(
            synth_features, cfg).select("z", "x", "y", "tile").collect()]
        assert rows
        return tiles_sha256(rows)

    want = digest(tiling.CLUSTER_ZOOM)
    for z_s in (tiling.CLUSTER_ZOOM + 1, 9, 12, 14):
        assert digest(z_s) == want, z_s


def test_below_cluster_zoom_tile_bytes(spark, synth_features):
    """A build whose base zoom lies below CLUSTER_ZOOM (z0-5): every tile
    is a z0-5 tile, so pass 1 builds none and hands every one over.  The
    profile's features start at z4, so seed 42 gives one z4 and one z5
    tile."""
    from tilemaker_spark.operators import tiling
    from tilemaker_spark.plans.profile import openmaptiles_lite

    cfg = openmaptiles_lite()[1]
    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 0, 5, 5
    rows = [tuple(r) for r in tiling.generate_tiles(
        synth_features, cfg).select("z", "x", "y", "tile").collect()]
    assert sorted(r[:3] for r in rows) == [(4, 8, 5), (5, 16, 11)]
    assert tiles_sha256(rows) == ("d79fd77b4cc6d157aadc4054d3c440ff"
                                  "ef8252cab7a857c1fddc767e4a576d49")


def test_synth_raster_tile_bytes(spark, synth_small):
    """z12 PNG raster tiles of the seed-42 extract pinned byte for byte."""
    path, _ = synth_small
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.operators.raster import render_raster_tiles

    features, _ = J.read_features(spark, path)
    rows = [tuple(r) for r in render_raster_tiles(features, zoom=12).select(
        "z", "x", "y", "png").collect()]
    assert rows
    assert tiles_sha256(rows) == ("63aa6d66449e58eb2175d49848d7ff86"
                                  "578dd52442574a4a69d28b7cfaab0872")


def test_synth_raster_bytes_ignore_row_order(spark, synth_small):
    """A raster tile paints the same pixels whatever order its features
    arrive in: the seed-42 z12 tiles read as built and reversed by id."""
    path, _ = synth_small
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from pyspark.sql import functions as F
    from tilemaker_spark.operators.raster import render_raster_tiles

    features, _ = J.read_features(spark, path)

    def digest(df):
        return tiles_sha256([tuple(r) for r in render_raster_tiles(
            df, zoom=12).select("z", "x", "y", "png").collect()])

    assert digest(features) == digest(
        features.orderBy(F.col("feature_id").desc(), "layer"))


def test_read_features_job_count(spark, synth_pbf):
    """PBF -> features runs in a bounded number of Spark jobs: the three
    entity phases share one blob-ref exchange, no blob is decoded while
    the plan is built, and the profile reads each entity table once
    (every AQE stage and plan-time action is one more job).  The plan
    pins the last: one branch per profile rule re-ran its table's whole
    decode-and-assemble subtree, exchanges and Python workers included."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tools.plan_audit import audit_plan

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    features, _ = J.read_features(spark, synth_pbf)
    audit = audit_plan(features)
    assert audit["python"] <= 9
    assert audit["exchanges"] <= 18
    assert features.count() == 3105
    assert len(set(tracker.getJobIdsForGroup()) - before) <= 9


def test_generate_tiles_job_count(spark, synth_pbf):
    """PBF -> z0-14 tiles runs in a bounded number of Spark jobs, and its
    plan holds a bounded number of exchanges and Python nodes.  The cover
    runs once: pass 1 hands pass 2 the z0-5 rows too, so the final
    adaptive plan holds one cover ``MapInArrow`` (a z0-5 branch that read
    the features again put the front end's exchanges and Python nodes in
    the plan twice: 14 jobs, 28 exchanges and 22 Python nodes)."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.operators.tiling import generate_tiles
    from tools.plan_audit import audit_plan

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    features, cfg = J.read_features(spark, synth_pbf)
    cfg.minzoom, cfg.maxzoom, cfg.basezoom = 0, 14, 14
    tiles = generate_tiles(features, cfg)
    audit = audit_plan(tiles)
    assert audit["python"] <= 12
    assert audit["exchanges"] <= 15
    counted = tiles.groupBy().count()  # what tiles.count() runs
    assert counted.collect()[0][0] == 200
    assert len(set(tracker.getJobIdsForGroup()) - before) <= 13

    def outputs(node):
        out = node.output()
        return {out.apply(i).name() for i in range(out.size())}

    final = counted._jdf.queryExecution().executedPlan().finalPhysicalPlan()
    covers = [n for n in _plan_nodes(final)
              if n.nodeName() == "MapInArrow" and "coarse" in outputs(n)]
    assert len(covers) == 1


def _plan_nodes(node):
    """A JVM physical plan node and every node below it, pre-order; an
    adaptive query stage is followed by the plan it ran."""
    yield node
    if node.nodeName().endswith("QueryStage"):
        yield from _plan_nodes(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_generate_tiles_builds_in_parallel(spark, synth_features):
    """Two Spark behaviours would run the tile build's second pass as
    one task: AQE coalesces a small shuffle to one partition, and
    ``toLocalIterator`` (both archive sinks) runs the final stage one
    partition per job.  So the plan ends in an Exchange above its last
    Python node, and on seed 42 pass 2 reads a shuffle AQE left
    uncoalesced, with rows in more than one of its partitions."""
    from tilemaker_spark.operators.tiling import generate_tiles
    from tilemaker_spark.plans.profile import openmaptiles_lite
    from tools.plan_audit import audit_plan

    tiles = generate_tiles(synth_features,
                           _z14_config(openmaptiles_lite()[1]))
    lines = audit_plan(tiles)["plan"].splitlines()
    python = re.compile(r"\b(MapInArrow|FlatMapGroupsInArrow|MapInPandas|"
                        r"ArrowEvalPython|BatchEvalPython)\b")
    first_python = next(i for i, ln in enumerate(lines) if python.search(ln))
    assert any("Exchange" in ln for ln in lines[:first_python])

    assert len(tiles.collect()) == 200
    final = tiles._jdf.queryExecution().executedPlan().finalPhysicalPlan()
    pass2 = next(n for n in _plan_nodes(final)
                 if n.nodeName() == "FlatMapGroupsInArrow"
                 and n.groupingAttributes().apply(0).name() == "_part")
    read = next(n for n in _plan_nodes(pass2)
                if n.nodeName() in ("ShuffleQueryStage", "AQEShuffleRead"))
    assert read.nodeName() == "ShuffleQueryStage"
    sizes = list(read.mapStats().get().bytesByPartitionId())
    assert sum(b > 0 for b in sizes) > 1


@pytest.mark.skipif(not os.environ.get("SPARK_GRAFT_SLOW"),
                    reason="several-minute 1M-node run; set "
                           "SPARK_GRAFT_SLOW=1 to enable")
def test_liechtenstein_scale_job_e2e(tmp_path):
    """The evidence-plan run: ~1,000,200 nodes / 96,000 ways / 1,200
    relations (20x monaco) through the real spark-submit job entry,
    locked tile-count goldens — proves assembly + tiling at extract
    scale without plan changes."""
    import time
    from tilemaker_spark.sources.synth_osm import write_synth_pbf
    p = str(tmp_path / "liech.pbf")
    info = write_synth_pbf(p, seed=42, scale=1.0)
    assert info["nodes"] == 1000200 and info["ways"] == 96000

    out = str(tmp_path / "liech.mbtiles")
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "build_tiles_job.py"),
         "--input", p, "--output", out, "--maxzoom", "14"],
        capture_output=True, text=True, timeout=1800)
    wall = time.time() - t0
    assert r.returncode == 0, r.stderr[-3000:]

    conn = sqlite3.connect(out)
    n = conn.execute("SELECT count(*) FROM tiles").fetchone()[0]
    n14 = conn.execute("SELECT count(*) FROM tiles WHERE zoom_level=14"
                       ).fetchone()[0]
    conn.close()
    assert n == 208 and n14 == 144   # deterministic goldens (seed 42)
    # runtime lock: generous bound to catch quadratic regressions, not
    # shared-host noise (observed ~8 min on a busy local[32])
    assert wall < 1500
