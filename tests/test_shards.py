"""WebDataset-style tar-shard sink/source tests: lossless round trip,
byte-determinism, atomic writes, manifest exactness."""

import hashlib
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.kernels import png
from tilemaker_spark.sinks import shards
from tilemaker_spark.sources import synth


def _samples(spark, n=40):
    k = F.substring(F.col("image_id"), 6, 9).cast("long")
    return synth.gradient_images_df(spark, n, partitions=4).withColumn(
        "caption", F.format_string("gradient number %d", k))


def test_shard_roundtrip_lossless(spark, tmp_path):
    out = str(tmp_path / "shards")
    manifest = shards.write_shards(_samples(spark), out, n_shards=4)
    mrows = {r["shard_id"]: r for r in manifest.collect()}
    assert sum(r["n_samples"] for r in mrows.values()) == 40
    assert os.path.exists(os.path.join(out, "manifest.json"))

    back = {r["image_id"]: r
            for r in shards.read_shards(spark, out).collect()}
    assert len(back) == 40
    orig = {r["image_id"]: r for r in _samples(spark).collect()}
    for iid, r in orig.items():
        assert bytes(back[iid]["bytes"]) == bytes(r["bytes"]), iid
        assert back[iid]["caption"] == r["caption"]
        assert back[iid]["fmt"] == "png"
        # and the payload still decodes to the analytic pixels
        k = int(iid.rsplit("_", 1)[-1])
        px = png.decode_image(bytes(back[iid]["bytes"]), "png")
        assert px.shape == (r["h"], r["w"], 3)


def test_shard_bytes_deterministic(spark, tmp_path):
    """Same input -> byte-identical shards (pinned tar metadata, sorted
    members): the property that makes shard md5s usable as cache keys."""
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    shards.write_shards(_samples(spark), d1, n_shards=4)
    shards.write_shards(_samples(spark), d2, n_shards=4)
    for name in sorted(os.listdir(d1)):
        if not name.endswith(".tar"):
            continue
        h1 = hashlib.md5(open(os.path.join(d1, name), "rb").read())
        h2 = hashlib.md5(open(os.path.join(d2, name), "rb").read())
        assert h1.hexdigest() == h2.hexdigest(), name


# sha256 of each shard of _samples(spark) at n_shards=4, recorded from
# the pandas group writer that preceded the Arrow one: the writer's
# bytes are pinned, not only self-consistent
SHARD_SHA256 = {
    "shard-00000.tar":
        "e2a184445e66cb01b9789130eb0fa6521a653d293734d5710387f4e6f778b741",
    "shard-00001.tar":
        "94b0376bd553c6e8a494ced664b4b20e4f6e84911e512ca4f4ce1bd65e1504da",
    "shard-00002.tar":
        "de6c977b34b60db9e8bb80f2381d668ab6add1c4b293a2264ba7997f227b003b",
    "shard-00003.tar":
        "2bb78e56952b7eeba88c1c71800f314e37b3131838d7ab8532c3054d610b6e40",
}


def test_shard_bytes_golden(spark, tmp_path):
    out = str(tmp_path / "golden")
    shards.write_shards(_samples(spark), out, n_shards=4)
    got = {name: hashlib.sha256(
               open(os.path.join(out, name), "rb").read()).hexdigest()
           for name in os.listdir(out) if name.endswith(".tar")}
    assert got == SHARD_SHA256


def test_shard_members_sorted_and_paired(spark, tmp_path):
    out = str(tmp_path / "shards")
    shards.write_shards(_samples(spark), out, n_shards=2)
    for name in sorted(os.listdir(out)):
        if not name.endswith(".tar"):
            continue
        with tarfile.open(os.path.join(out, name)) as tf:
            names = [m.name for m in tf.getmembers()]
        assert names == sorted(names)
        stems = [n.rsplit(".", 1)[0] for n in names]
        # every sample contributes exactly one .png and one .txt
        assert all(stems.count(s) == 2 for s in set(stems))


def test_no_tmp_files_left(spark, tmp_path):
    out = str(tmp_path / "shards")
    shards.write_shards(_samples(spark), out, n_shards=4)
    assert not [p for p in os.listdir(out) if p.endswith(".tmp")]


def test_explicit_shard_assignment(spark, tmp_path):
    """k % 3 assignment -> exact per-shard counts (the SQL-expressible
    mode the oracle query uses)."""
    out = str(tmp_path / "shards")
    k = F.substring(F.col("image_id"), 6, 9).cast("long")
    manifest = shards.write_shards(
        _samples(spark, 30), out, n_shards=3, shard_id=F.pmod(k, F.lit(3)))
    got = {r["shard_id"]: r["n_samples"] for r in manifest.collect()}
    assert got == {0: 10, 1: 10, 2: 10}


def test_export_shards_job_main(spark, tmp_path):
    """Cluster entry point drives the sink end to end (direct main();
    the spark-submit packaging path is covered by test_submit_job)."""
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import export_shards_job

    src = str(tmp_path / "imgs.parquet")
    _samples(spark, 24).write.parquet(src)
    out = str(tmp_path / "shards")
    assert export_shards_job.main(
        ["--input", src, "--output", out, "--n-shards", "4"]) == 0
    back = shards.read_shards(spark, out)
    assert back.count() == 24
    assert os.path.exists(os.path.join(out, "manifest.json"))


def test_read_shards_ignores_stale_tars(spark, tmp_path):
    """A re-run with fewer shards leaves old shard files behind; the
    reader must follow the manifest, not the directory glob."""
    out = str(tmp_path / "restale")
    shards.write_shards(_samples(spark, 40), out, n_shards=8)
    assert len([p for p in os.listdir(out) if p.endswith(".tar")]) == 8
    # second run: half the samples into 2 shards; 6+ stale tars remain
    shards.write_shards(_samples(spark, 20), out, n_shards=2)
    stale = [p for p in os.listdir(out) if p.endswith(".tar")]
    assert len(stale) == 8  # shard files 2..7 are stale on disk
    back = shards.read_shards(spark, out).collect()
    assert len(back) == 20  # manifest-driven: stale shards excluded
    assert {r["image_id"] for r in back} == {
        r["image_id"] for r in _samples(spark, 20).collect()}


def test_write_shards_rejects_null_caption(spark, tmp_path):
    bad = _samples(spark, 6).withColumn(
        "caption", F.when(F.col("image_id").endswith("3"), None)
        .otherwise(F.col("caption")))
    with pytest.raises(Exception, match="null caption"):
        shards.write_shards(bad, str(tmp_path / "nullcap"), n_shards=2)
