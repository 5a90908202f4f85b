"""North-rule packaging check: the pipeline runs via
``spark-submit --py-files dist/tilemaker_spark.zip`` as a fresh driver
process whose executors import the package from the shipped zip (no
repo on sys.path), producing a valid mbtiles from the monaco fixture and
from a synthetic extract.  The fresh driver is also the one place the
jobs' own session config (session.ENGINE_CONF) takes effect: the
in-process ``main`` tests below reuse the test session."""

import os
import sqlite3
import subprocess
import sys

import pytest

from conftest import MONACO, REPO, requires_monaco


def _synth_pbf(tmp_path):
    from tilemaker_spark.sources.synth_osm import write_synth_pbf
    path = str(tmp_path / "country.pbf")
    write_synth_pbf(path, seed=42, scale=0.02)
    return path


@pytest.mark.parametrize("extract", [
    pytest.param(lambda tmp_path: MONACO, id="monaco",
                 marks=requires_monaco),
    pytest.param(_synth_pbf, id="synth"),
])
def test_spark_submit_pyfiles(tmp_path, extract):
    sys.path.insert(0, REPO)
    from tools.package_pyfiles import build
    zip_path = build(str(tmp_path / "tilemaker_spark.zip"))
    pbf = extract(tmp_path)

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        import pyspark
        spark_home = os.path.dirname(pyspark.__file__)
    submit = os.path.join(spark_home, "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("no spark-submit binary")

    out = str(tmp_path / "out.mbtiles")
    # cwd=tmp_path so the job CANNOT import tilemaker_spark from the
    # repo checkout — only from the --py-files zip
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [submit, "--master", "local[8]", "--py-files", zip_path,
         os.path.join(REPO, "jobs", "build_tiles_job.py"),
         "--input", pbf, "--output", out, "--maxzoom", "10"],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "wrote" in r.stdout

    conn = sqlite3.connect(out)
    n = conn.execute("SELECT count(*) FROM tiles").fetchone()[0]
    meta = dict(conn.execute("SELECT name, value FROM metadata"))
    conn.close()
    assert n >= 5  # pyramid zooms 4..10 over the extract
    assert meta["format"] == "pbf"


def test_job_checkpoint_resume(spark, tmp_path):
    """--checkpoint resumes idempotently: a second identical run skips
    every committed z6-subtree key (no data file is rewritten) and the
    exported mbtiles is byte-count identical."""
    import glob
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J

    # tiny FEATURE_SCHEMA input: 30 points spread across the world
    rows = [(i, "poi", 0, 0, 0, {},
             [float(-150 + i * 10), float(-60 + (i % 13) * 9)], [1], [])
            for i in range(30)]
    feats = spark.createDataFrame(
        rows,
        "feature_id long, layer string, kind tinyint, minzoom int, "
        "zorder long, attrs map<string,string>, coords array<double>, "
        "ring_sizes array<int>, poly_ring_counts array<int>")
    src = str(tmp_path / "feats.parquet")
    feats.write.parquet(src)

    out1 = str(tmp_path / "a.mbtiles")
    out2 = str(tmp_path / "b.mbtiles")
    ckpt = str(tmp_path / "ckpt")
    J.main(["--input", src, "--output", out1, "--maxzoom", "8",
            "--checkpoint", ckpt])
    data_files = sorted(glob.glob(os.path.join(ckpt, "data", "**", "*"),
                                  recursive=True))
    mtimes = {f: os.path.getmtime(f) for f in data_files}
    manifests1 = sorted(os.listdir(os.path.join(ckpt, "_manifest")))

    J.main(["--input", src, "--output", out2, "--maxzoom", "8",
            "--checkpoint", ckpt])
    # no data file rewritten, no new snapshot -> keys were skipped
    for f, m in mtimes.items():
        assert os.path.getmtime(f) == m, f"rewritten: {f}"
    assert sorted(os.listdir(os.path.join(ckpt, "_manifest"))) == manifests1

    def tile_count(p):
        conn = sqlite3.connect(p)
        n = conn.execute("SELECT count(*) FROM tiles").fetchone()[0]
        conn.close()
        return n

    assert tile_count(out1) == tile_count(out2) > 0

    # lineage table records one row per committed subtree key
    from tilemaker_spark.lineage import CheckpointedSink
    sink = CheckpointedSink(ckpt)
    lin = sink.lineage(spark)
    assert lin.count() == len(sink.committed_keys())


def test_job_checkpoint_empty_build(spark, synth_pbf, tmp_path):
    """--checkpoint with a --bbox that misses the data: nothing is
    committed, and the job still writes an empty archive."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J

    out = str(tmp_path / "empty.mbtiles")
    assert J.main(["--input", synth_pbf, "--output", out, "--maxzoom", "10",
                   "--bbox=-10,-10,-9,-9",
                   "--checkpoint", str(tmp_path / "ckpt")]) == 0
    conn = sqlite3.connect(out)
    assert conn.execute("SELECT count(*) FROM tiles").fetchone()[0] == 0
    conn.close()


@pytest.mark.parametrize("output", ["out.mbtiles", "out.pmtiles", "tree"])
def test_job_writes_vector_layers_to_every_sink(spark, synth_pbf, tmp_path,
                                                capsys, output):
    """Every sink gets the one metadata block: the profile's six layers
    as TileJSON vector_layers with their zoom ranges, and the printed
    tile count is the archive's."""
    import json
    import re
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.plans.profile import openmaptiles_lite
    from tilemaker_spark.sinks import mbtiles, pmtiles

    out = str(tmp_path / output)
    assert J.main(["--input", synth_pbf, "--output", out,
                   "--maxzoom", "6"]) == 0
    n = int(re.search(r"wrote (\d+) vector tiles",
                      capsys.readouterr().out).group(1))
    if output.endswith(".mbtiles"):
        st = mbtiles.mbtiles_stats(out)
        meta, n_archive = st["metadata"], st["total"]
        layers = json.loads(meta["json"])["vector_layers"]
        assert meta["format"] == "pbf" and meta["name"] == "tilemaker_spark"
        assert (meta["minzoom"], meta["maxzoom"]) == ("0", "6")
        assert meta["bounds"] == "-180.000000,-85.051100,180.000000,85.051100"
    else:
        if output.endswith(".pmtiles"):
            st = pmtiles.pmtiles_stats(out)
            meta, n_archive = st["metadata"], st["n_tiles"]
        else:
            with open(os.path.join(out, "metadata.json")) as f:
                meta = json.load(f)
            n_archive = sum(len(fs) for _, _, fs in os.walk(out)) - 1
        layers = meta["vector_layers"]
        assert (meta["minzoom"], meta["maxzoom"]) == (0, 6)
        assert meta["bounds"] == [-180.0, -85.0511, 180.0, 85.0511]
    assert n == n_archive > 0
    _, cfg = openmaptiles_lite()
    assert len(cfg.layers) == 6
    assert [(v["id"], v["minzoom"], v["maxzoom"]) for v in layers] == [
        (name, ld.minzoom, ld.maxzoom) for name, ld in cfg.layers.items()]


def test_job_bbox_sets_pmtiles_header_bounds(spark, synth_pbf, tmp_path):
    """--bbox reaches the PMTiles header as E7 bounds with the box's
    midpoint as center, and the JSON metadata as bounds."""
    import struct
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.sinks import pmtiles

    out = str(tmp_path / "clip.pmtiles")
    assert J.main(["--input", synth_pbf, "--output", out, "--minzoom", "4",
                   "--maxzoom", "6", "--bbox=9.5,47.1,9.6,47.2"]) == 0
    with open(out, "rb") as f:
        header = f.read(pmtiles.HEADER_SIZE)
    assert struct.unpack_from("<iiii", header, 102) == (
        95000000, 471000000, 96000000, 472000000)
    assert struct.unpack_from("<Bii", header, 118) == (
        4, 95500000, 471500000)
    assert pmtiles.pmtiles_stats(out)["metadata"]["bounds"] == [
        9.5, 47.1, 9.6, 47.2]


def test_job_raster_sink_clips_and_resumes(spark, tmp_path):
    """--raster-zoom honors --bbox (no world-spanning raster tiles) and
    routes through the checkpoint sink (second run rewrites nothing)."""
    import glob
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J

    rows = [(i, "poi", 0, 0, 0, {},
             [float(-150 + i * 10), float(-60 + (i % 13) * 9)], [1], [])
            for i in range(30)]
    feats = spark.createDataFrame(
        rows,
        "feature_id long, layer string, kind tinyint, minzoom int, "
        "zorder long, attrs map<string,string>, coords array<double>, "
        "ring_sizes array<int>, poly_ring_counts array<int>")
    src = str(tmp_path / "feats.parquet")
    feats.write.parquet(src)

    out = str(tmp_path / "a.mbtiles")
    ckpt = str(tmp_path / "ckpt")
    bbox = "--bbox=-60,-30,60,30"
    J.main(["--input", src, "--output", out, "--maxzoom", "6",
            bbox, "--raster-zoom", "4", "--checkpoint", ckpt])
    rpath = str(tmp_path / "a.raster.mbtiles")
    conn = sqlite3.connect(rpath)
    # mbtiles rows are TMS-flipped: tile_row = 2^z - 1 - y
    tiles = conn.execute(
        "SELECT zoom_level, tile_column, tile_row FROM tiles").fetchall()
    conn.close()
    assert tiles
    # bbox lon [-60, 60] at z4 -> x in [5, 10]; lat [-30, 30] -> y in
    # [6, 9] (web mercator), i.e. tms rows [6, 9]
    for z, x, row in tiles:
        y = (1 << z) - 1 - row
        assert 5 <= x <= 10, f"raster tile outside bbox: {(z, x, y)}"
        assert 6 <= y <= 9, f"raster tile outside bbox: {(z, x, y)}"

    rdata = sorted(glob.glob(os.path.join(ckpt, "raster", "data", "**",
                                          "*"), recursive=True))
    assert rdata, "raster tiles not checkpointed"
    mtimes = {f: os.path.getmtime(f) for f in rdata}
    out2 = str(tmp_path / "b.mbtiles")
    J.main(["--input", src, "--output", out2, "--maxzoom", "6",
            bbox, "--raster-zoom", "4", "--checkpoint", ckpt])
    for f, m in mtimes.items():
        assert os.path.getmtime(f) == m, f"raster rewritten: {f}"


def test_job_multi_input_union(spark, tmp_path):
    """Repeatable --input (reference: src/tilemaker.cpp:296-326 loads
    every input into the same stores): two synthetic country halves —
    ways split by id parity, each half carrying every node its ways
    reference (border nodes land in BOTH files, exercising the id
    dedup) — build byte-identical tiles to the single merged file."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J
    from tilemaker_spark.kernels.pbf_write import write_pbf
    from tilemaker_spark.sources.synth_osm import synth_country

    nodes, ways, rels, bbox = synth_country(seed=7, scale=0.01)

    ways_a = [w for w in ways if w[0] % 2 == 0]
    ways_b = [w for w in ways if w[0] % 2 == 1]
    need_a = {r for w in ways_a for r in w[1]}
    need_b = {r for w in ways_b for r in w[1]}
    referenced = need_a | need_b
    ids_a = need_a | {n[0] for n in nodes
                      if n[0] not in referenced and n[0] % 2 == 0}
    ids_b = need_b | {n[0] for n in nodes
                      if n[0] not in referenced and n[0] % 2 == 1}
    # force a border overlap: the first 50 of A's nodes also ship in B
    # (adjacent extracts duplicate border objects; the union must dedup)
    ids_b |= set(sorted(ids_a)[:50])
    nodes_a = [n for n in nodes if n[0] in ids_a]
    nodes_b = [n for n in nodes if n[0] in ids_b]
    rels_a = [r for r in rels if r[0] % 2 == 0]
    rels_b = [r for r in rels if r[0] % 2 == 1]
    assert len(nodes_a) + len(nodes_b) >= len(nodes) + 50  # real overlap

    full = str(tmp_path / "full.pbf")
    half_a = str(tmp_path / "a.pbf")
    half_b = str(tmp_path / "b.pbf")
    write_pbf(full, nodes, ways, rels, bbox)
    write_pbf(half_a, nodes_a, ways_a, rels_a, bbox)
    write_pbf(half_b, nodes_b, ways_b, rels_b, bbox)

    out_full = str(tmp_path / "full.mbtiles")
    out_merged = str(tmp_path / "merged.mbtiles")
    J.main(["--input", full, "--output", out_full, "--maxzoom", "8"])
    J.main(["--input", half_a, "--input", half_b,
            "--output", out_merged, "--maxzoom", "8"])

    def tiles(p):
        conn = sqlite3.connect(p)
        rows = conn.execute("SELECT zoom_level, tile_column, tile_row, "
                            "tile_data FROM tiles").fetchall()
        conn.close()
        return {(z, x, y): bytes(t) for z, x, y, t in rows}

    t_full, t_merged = tiles(out_full), tiles(out_merged)
    assert len(t_full) > 0
    assert sorted(t_full) == sorted(t_merged)
    for k in t_full:
        assert t_full[k] == t_merged[k], f"tile differs at {k}"


def test_dedup_corpus_job_end_to_end(spark, tmp_path):
    """The dedup job keeps <= input docs, writes split-partitioned
    parquet, dedups planted exact copies, honors the per-source cap,
    and attaches a dense shuffle position when asked."""
    from pyspark.sql import functions as F

    import jobs.dedup_corpus_job as DJ
    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "clean")
    rows = []
    for i in range(120):
        # 3 exact copies of each base text -> exact dedup keeps 1 of 3
        rows.append((i, f"document body number {i // 3}",
                     "web" if i % 2 == 0 else "books", 20 + i % 7))
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)
    DJ.main(["--input", src, "--output", out,
             "--cap-per-source", "15", "--shuffle-seed", "3"])
    back = spark.read.parquet(out)
    n = back.count()
    assert 0 < n <= 40  # 120 docs / 3 exact copies, then capped
    per_src = {r["source"]: r["n"] for r in back.groupBy("source")
               .agg(F.count("*").alias("n")).collect()}
    assert all(v <= 15 for v in per_src.values())
    assert set(back.select("split").distinct().toPandas()["split"]) \
        <= {"train", "val", "test"}
    pos = sorted(r["pos"] for r in back.select("pos").collect())
    assert pos == list(range(n))  # dense 0..n-1 order positions


def test_job_cli_parity_flags(spark, tmp_path, capsys):
    """Reference CLI parity (src/options_parser.cpp): --config applies
    the reference-shape JSON settings, --threads caps shuffle
    partitions, --skip-integrity / --quiet parse; a --config maxzoom
    coarser than the default changes the tile set."""
    import json as _json
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J

    rows = [(i, "poi", 0, 0, 0, {},
             [float(-150 + i * 10), float(-60 + (i % 13) * 9)], [1], [])
            for i in range(30)]
    feats = spark.createDataFrame(
        rows,
        "feature_id long, layer string, kind tinyint, minzoom int, "
        "zorder long, attrs map<string,string>, coords array<double>, "
        "ring_sizes array<int>, poly_ring_counts array<int>")
    src = str(tmp_path / "feats.parquet")
    feats.write.parquet(src)

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(_json.dumps(
        {"layers": {}, "settings": {"name": "parity", "compress": "true"}}))

    out = str(tmp_path / "p.mbtiles")
    rc = J.main(["--input", src, "--output", out, "--maxzoom", "4",
                 "--config", str(cfg_path), "--skip-integrity",
                 "--threads", "4", "--quiet"])
    assert rc == 0 and os.path.exists(out)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    import sqlite3
    con = sqlite3.connect(out)
    meta = dict(con.execute("SELECT name, value FROM metadata").fetchall())
    con.close()
    assert meta["name"] == "parity"
    assert int(meta["maxzoom"]) == 4  # CLI flag overrides config file


def test_job_checkpoint_maintenance_flags(spark, tmp_path):
    """--compact-checkpoint / --vacuum-checkpoint run the maintenance
    ops after the write; the exported tiles are identical to a plain
    checkpointed run."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_tiles_job as J

    rows = [(i, "poi", 0, 0, 0, {},
             [float(-150 + i * 10), float(-60 + (i % 13) * 9)], [1], [])
            for i in range(30)]
    feats = spark.createDataFrame(
        rows,
        "feature_id long, layer string, kind tinyint, minzoom int, "
        "zorder long, attrs map<string,string>, coords array<double>, "
        "ring_sizes array<int>, poly_ring_counts array<int>")
    src = str(tmp_path / "feats.parquet")
    feats.write.parquet(src)

    out1 = str(tmp_path / "plain.mbtiles")
    out2 = str(tmp_path / "maint.mbtiles")
    assert J.main(["--input", src, "--output", out1, "--maxzoom", "4",
                   "--checkpoint", str(tmp_path / "ck1"),
                   "--quiet"]) == 0
    assert J.main(["--input", src, "--output", out2, "--maxzoom", "4",
                   "--checkpoint", str(tmp_path / "ck2"),
                   "--compact-checkpoint", "--vacuum-checkpoint",
                   "--quiet"]) == 0
    import sqlite3

    def tiles(p):
        con = sqlite3.connect(p)
        rows = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data "
            "FROM tiles ORDER BY 1, 2, 3").fetchall()
        con.close()
        return rows

    assert tiles(out1) == tiles(out2)
