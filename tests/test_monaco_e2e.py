"""Monaco end-to-end parity gate (SURVEY.md §7.2 milestone): the full
pbf -> assembly -> profile -> tiling -> mbtiles pipeline on the reference's
own fixture, with checked-in expected z14 per-tile feature counts for
the transportation and building layers.

GOLDEN PROVENANCE: tests/golden/monaco_z14_counts.json is SELF-GENERATED
(captured from this engine's own output in round 2) — it is a regression
lock, not independent cross-engine parity.  What IS independently
verified against the reference: the monaco entity statistics
(30477/4825/285, reference's own published fixture counts,
tests/test_pbf_monaco.py) and the per-operator semantics via the
reference-cited kernel tests.  A true reference-built tile comparison is
not possible in this container (no cmake/boost/lua toolchain); if one
becomes available, regenerate the golden from the reference binary with
the resources/config-openmaptiles profile restricted to the layers here."""

import json
import os

import pytest

from conftest import MONACO, REPO, requires_monaco

pytestmark = requires_monaco

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "monaco_z14_counts.json")


@pytest.fixture(scope="module")
def monaco_tiles(spark):
    from tilemaker_spark.sources import pbf as pbf_src
    from tilemaker_spark.operators.assembly import (
        assemble_way_geometries, assemble_relation_multipolygons)
    from tilemaker_spark.plans.profile import openmaptiles_lite
    from tilemaker_spark.operators import tiling
    nodes, ways, rels = pbf_src.read_pbf_multi(spark, [MONACO])
    wg = assemble_way_geometries(ways, nodes, skip_integrity=True).cache()
    rg = assemble_relation_multipolygons(
        rels.filter("tags['type'] = 'multipolygon'"), wg)
    prof, cfg = openmaptiles_lite()
    feats = prof.apply(nodes=nodes, way_geoms=wg, rel_geoms=rg)
    return tiling.generate_tiles(feats, cfg).collect(), cfg


def test_monaco_z14_feature_counts(monaco_tiles):
    from tilemaker_spark.kernels import mvt
    rows, _ = monaco_tiles
    counts = {}
    for r in rows:
        if r["z"] != 14:
            continue
        dec = mvt.decode_tile(bytes(r["tile"]))
        for layer in ("transportation", "building"):
            if layer in dec:
                counts[f"{r['x']}/{r['y']}/{layer}"] = len(
                    dec[layer]["features"])
    with open(GOLDEN) as f:
        expected = json.load(f)
    assert counts == expected


def test_monaco_pyramid_shape(monaco_tiles):
    rows, cfg = monaco_tiles
    zs = {}
    for r in rows:
        zs[r["z"]] = zs.get(r["z"], 0) + 1
    # one tile per zoom 4..12 (Monaco fits in one tile), 4 @ z13, 5 @ z14
    for z in range(4, 13):
        assert zs.get(z) == 1, f"z{z}: {zs.get(z)}"
    assert zs.get(13) == 4 and zs.get(14) == 5


def test_monaco_mbtiles_roundtrip(monaco_tiles, spark, tmp_path):
    import sys
    from tilemaker_spark.sinks import mbtiles
    from tilemaker_spark.kernels import mvt
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    rows, cfg = monaco_tiles
    tiles_df = spark.createDataFrame(
        [(r["z"], r["x"], r["y"], bytes(r["tile"])) for r in rows],
        "z int, x int, y int, tile binary")
    vl = J.vector_layers(cfg)
    path = str(tmp_path / "monaco.mbtiles")
    n = mbtiles.write_mbtiles(tiles_df, path, {"vector_layers": vl})
    assert n == len(rows)
    blob = mbtiles.read_mbtiles_tile(path, 14, 8529, 5974)
    dec = mvt.decode_tile(blob)
    assert len(dec["building"]["features"]) == 820
    stats = mbtiles.mbtiles_stats(path)
    stored = json.loads(stats["metadata"]["json"])
    ids = {v["id"] for v in stored["vector_layers"]}
    assert "transportation" in ids and "building" in ids
