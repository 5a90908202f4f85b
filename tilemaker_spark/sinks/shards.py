"""WebDataset-style tar-shard sink + source for image+caption training
corpora.

A training job doesn't read a billion tiny files — it streams fixed-count
tar shards of (sample.png, sample.txt) members (the public WebDataset
convention).  This sink writes those shards from executors in parallel
and returns an exact manifest; the matching source streams them back as
the same (image_id, bytes, fmt, caption) DataFrame, so the pair is a
lossless round trip a checksum oracle can gate.

Scale shape: one shuffle — ``repartition(shard_id)`` co-locates every
sample of a shard on one task (``applyInArrow`` over the shard key);
each task writes its tar(s) with a tmp-file + atomic rename, so a
re-run or speculative duplicate task can never leave a torn shard.
Shard bytes are deterministic: members sorted by sample key, tar
metadata (mtime/uid/gid/mode) pinned, so the same input always produces
byte-identical shards — the property that makes shard-level md5s usable
as cache keys at 10^12-image scale.
"""

from __future__ import annotations

import io
import json
import os
import tarfile

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.rows import map_rows, rows_table

MANIFEST = "manifest.json"
MANIFEST_ARROW = pa.schema([("shard_id", pa.int32()),
                            ("n_samples", pa.int64()),
                            ("n_bytes", pa.int64())])
SAMPLE_COLUMNS = ("image_id", "bytes", "fmt", "caption")


def _shard_tar_bytes(samples) -> bytes:
    """Deterministic tar of (image_id, bytes, fmt, caption) rows: members
    sorted by image_id, metadata pinned."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for image_id, blob, fmt, cap in sorted(samples, key=lambda r: r[0]):
            if cap is None:
                # writing str(None) would store the 4-byte literal "None"
                # and the round trip would resurrect it as a non-null
                # caption — reject instead of corrupting
                raise ValueError(
                    f"null caption for image_id={image_id!r}: "
                    "shards store caption BYTES (WebDataset .txt "
                    "member); filter or fill nulls before write_shards")
            for name, payload in ((f"{image_id}.{fmt}", blob),
                                  (f"{image_id}.txt", cap.encode("utf-8"))):
                ti = tarfile.TarInfo(name=name)
                ti.size = len(payload)
                ti.mtime = 0
                ti.uid = ti.gid = 0
                ti.mode = 0o644
                tf.addfile(ti, io.BytesIO(payload))
    return buf.getvalue()


def _shard_writer(samples: DataFrame, out_dir: str, n_shards: int,
                  shard_id: Column | None) -> DataFrame:
    """The manifest plan of :func:`write_shards`: running it writes each
    shard's tar from one ``applyInArrow`` group and yields that shard's
    manifest row."""
    sid = (F.pmod(F.xxhash64("image_id"), F.lit(n_shards))
           if shard_id is None else shard_id).cast("int")
    keyed = samples.select(sid.alias("shard_id"), *SAMPLE_COLUMNS)

    def write_group(table):  # unannotated: applyInArrow reads hints
        s = table.column("shard_id")[0].as_py()
        blob = _shard_tar_bytes(
            zip(*(table.column(c).to_pylist() for c in SAMPLE_COLUMNS)))
        path = os.path.join(out_dir, f"shard-{s:05d}.tar")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return rows_table([(s, table.num_rows, len(blob))], MANIFEST_ARROW)

    return keyed.groupBy("shard_id").applyInArrow(
        write_group, from_arrow_schema(MANIFEST_ARROW))


def write_shards(samples: DataFrame, out_dir: str, n_shards: int = 16,
                 shard_id: Column | None = None) -> DataFrame:
    """Write (image_id, bytes, fmt, caption) rows as ``shard-NNNNN.tar``
    files under ``out_dir``; returns the manifest as a DataFrame
    (shard_id, n_samples, n_bytes) and writes it as ``manifest.json``.

    ``shard_id`` defaults to ``pmod(xxhash64(image_id), n_shards)`` —
    content-addressed, skew-free for any id distribution; pass an
    explicit Column (e.g. a modulo of a sequence number) when the
    assignment itself must be reproducible in plain SQL."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = _shard_writer(samples, out_dir, n_shards, shard_id)
    rows = sorted(manifest.collect(), key=lambda r: r["shard_id"])
    with open(os.path.join(out_dir, MANIFEST), "w") as f:
        json.dump([r.asDict() for r in rows], f, indent=1)
    return manifest.sparkSession.createDataFrame(
        rows, schema=from_arrow_schema(MANIFEST_ARROW))


def read_shards(spark: SparkSession, out_dir: str,
                partitions: int | None = None) -> DataFrame:
    """Stream tar shards back as (image_id, bytes, fmt, caption) — one
    input row per shard file fans out to its samples inside the Arrow
    batch (map-only; a 1000-executor cluster parallelizes across
    shards, the natural training-ingest unit).

    Shard files come from the manifest, NOT a directory glob: a re-run
    with fewer shards leaves stale shard-NNNNN.tar files behind, and a
    glob would silently mix them into the round trip.  Falls back to
    the glob only when no manifest exists (externally produced
    shards)."""
    mpath = os.path.join(out_dir, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            entries = json.load(f)
        paths = [os.path.join(out_dir, f"shard-{e['shard_id']:05d}.tar")
                 for e in entries]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"manifest lists {len(missing)} absent shard(s), e.g. "
                f"{missing[0]} — the shard set is torn")
    else:
        paths = sorted(
            os.path.join(out_dir, p) for p in os.listdir(out_dir)
            if p.endswith(".tar"))
    paths_df = spark.createDataFrame([(p,) for p in paths],
                                     schema="path string")
    if partitions:
        paths_df = paths_df.repartition(partitions)

    def row(path):
        with tarfile.open(path, mode="r") as tf:
            members = {m.name: tf.extractfile(m).read()
                       for m in tf.getmembers() if m.isfile()}
        for name in sorted(members):
            if name.endswith(".txt"):
                continue
            stem, fmt = name.rsplit(".", 1)
            yield stem, members[name], fmt, members[f"{stem}.txt"].decode(
                "utf-8")

    return map_rows(paths_df, ["path"], "image_id string, bytes binary,"
                    " fmt string, caption string", row)
