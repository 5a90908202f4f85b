"""The one Arrow row worker (operators/rows.map_rows) and the plans of the
image, media and shard operators built on it."""

import io
from contextlib import redirect_stdout

import pytest

from tilemaker_spark.operators import images, media
from tilemaker_spark.sinks import shards


def test_map_rows_fans_out_and_drops(spark):
    """A row function may yield no row, one, or many; empty partitions
    and partitions whose output outgrows the input batch both come back
    whole and typed."""
    from tilemaker_spark.operators.rows import map_rows

    df = spark.range(0, 40, numPartitions=5).selectExpr(
        "id", "cast(id % 7 as int) AS k")

    def row(i, k):
        for j in range(k):
            yield i, j, f"{i}:{j}"

    out = map_rows(df, ["id", "k"], "i long, j int, s string", row)
    assert out.schema.simpleString() == "struct<i:bigint,j:int,s:string>"
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted((i, j, f"{i}:{j}")
                         for i in range(40) for j in range(i % 7))
    empty = map_rows(df.filter("id < 0"), ["id", "k"],
                     "i long, j int, s string", row)
    assert empty.collect() == []


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def blobs(spark, tmp_path_factory):
    """Each operator's plan builder over local inputs (no Python node
    upstream); the plans are only built, never run, so the blobs need
    not decode."""
    img = spark.createDataFrame(
        [("img_1", b"x", 4, 4, "png", 1, "a caption")],
        "image_id string, bytes binary, w int, h int, fmt string,"
        " orientation int, caption string")
    pairs = spark.createDataFrame([("img_1", "img_1")],
                                  "id_a string, id_b string")
    flat = spark.createDataFrame([(1, 2, 3, 4, 4)],
                                 "k long, g1 int, g2 int, w int, h int")
    vids = spark.createDataFrame([("vid_1", b"x")],
                                 "video_id string, bytes binary")
    aud = spark.createDataFrame([("aud_1", b"x")],
                                "audio_id string, bytes binary")
    out = str(tmp_path_factory.mktemp("shards"))
    return {
        "decode_verify": lambda: images.decode_verify(
            img, passthrough=("caption",)),
        "image_quality": lambda: images.image_quality(img),
        "ssim_flat_audit": lambda: images.ssim_flat_audit(flat),
        "resize_images": lambda: images.resize_images(img, 8, 8),
        "letterbox_images": lambda: images.letterbox_images(img),
        "augment_images": lambda: images.augment_images(img),
        "patchify_images": lambda: images.patchify_images(img),
        "pixel_checksum": lambda: images.pixel_checksum(img),
        "channel_stats": lambda: images.channel_stats(img),
        "mixup_images": lambda: images.mixup_images(img, pairs),
        "to_grayscale": lambda: images.to_grayscale(img),
        "scan_corrupt": lambda: images.scan_corrupt(img),
        "orient_images": lambda: images.orient_images(img),
        "sample_frames": lambda: media.sample_frames(vids),
        "audio_features": lambda: media.audio_features(aud),
        "read_shards": lambda: shards.read_shards(spark, out),
        "write_shards": lambda: shards._shard_writer(img, out, 2, None),
    }


@pytest.mark.parametrize("name", [
    "decode_verify", "image_quality", "ssim_flat_audit", "resize_images",
    "letterbox_images", "augment_images", "patchify_images",
    "pixel_checksum", "channel_stats", "mixup_images", "to_grayscale",
    "scan_corrupt", "orient_images", "sample_frames", "audio_features",
    "read_shards", "write_shards"])
def test_row_operators_plan_no_pandas(blobs, name):
    """Every per-blob operator runs as one Arrow worker: its plan holds a
    MapInArrow (the shard writer a FlatMapGroupsInArrow) and no pandas
    map, pandas group map or per-row Python UDF node."""
    plan = _plan(blobs[name]())
    node = ("FlatMapGroupsInArrow" if name == "write_shards"
            else "MapInArrow")
    assert node in plan, name
    for bad in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython"):
        assert bad not in plan, (name, bad)
