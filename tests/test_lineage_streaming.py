"""Checkpoint/lineage resume tests."""

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.lineage import CheckpointedSink


def test_checkpointed_write_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    sink = CheckpointedSink(root)
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("long"))

    r1 = sink.write_partitioned(df, "part", run_id="r1")
    assert sorted(r1["written_keys"]) == [0, 1, 2, 3]

    # rerun: everything already committed -> idempotent no-op
    r2 = sink.write_partitioned(df, "part", run_id="r2")
    assert r2["written_keys"] == []
    assert sorted(r2["skipped_keys"]) == [0, 1, 2, 3]

    out = sink.read(spark)
    assert out.count() == 100
    lin = sink.lineage(spark).collect()
    assert {r["pk"] for r in lin} == {0, 1, 2, 3}
    assert all(r["rows_out"] == 25 for r in lin)


def test_partial_commit_resume(spark, tmp_path):
    """Simulate a crash after partition 0/1 committed; resume completes the
    rest without duplicating rows."""
    root = str(tmp_path / "ckpt2")
    sink = CheckpointedSink(root)
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("long"))

    first = df.filter(F.col("part") < 2)
    sink.write_partitioned(first, "part", run_id="crashed")
    assert sink.committed_keys() == {0, 1}

    r = sink.write_partitioned(df, "part", run_id="resume")
    assert sorted(r["written_keys"]) == [2, 3]
    out = sink.read(spark)
    assert out.count() == 100
    assert out.select("id").distinct().count() == 100  # no dupes


def test_snapshot_time_travel(spark, tmp_path):
    """Iceberg-style AS OF reads: snapshot N's view stays stable as later
    snapshots commit more partitions; snapshot_log records the history."""
    root = str(tmp_path / "ckpt3")
    sink = CheckpointedSink(root)
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("long"))

    r1 = sink.write_partitioned(df.filter(F.col("part") < 2), "part",
                                run_id="first")
    r2 = sink.write_partitioned(df, "part", run_id="second")
    assert r1["snapshot_id"] == 1 and r2["snapshot_id"] == 2

    assert sink.read(spark, as_of=1).count() == 50   # parts 0,1 only
    assert sink.read(spark, as_of=2).count() == 100  # all four
    assert sink.read(spark).count() == 100           # latest = default
    assert sink.read(spark, as_of=0).count() == 0    # before any commit

    log = sink.snapshot_log()
    assert [s["snapshot_id"] for s in log] == [1, 2]
    assert [s["run_id"] for s in log] == ["first", "second"]
    assert [s["n_keys"] for s in log] == [2, 2]

    # unknown snapshot id errors (Iceberg semantics) instead of silently
    # returning the latest view — a typo'd as_of must not mask itself
    with pytest.raises(ValueError, match="unknown snapshot"):
        sink.read(spark, as_of=3)


def test_merge_upsert_semantics(spark):
    """Matched keys replaced, new keys inserted, untouched rows pass
    through; output key set = union of both key sets."""
    from tilemaker_spark.lineage import merge_upsert
    tgt = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    upd = spark.createDataFrame(
        [(2, "B"), (4, "D")], "id long, v string")
    got = sorted((r["id"], r["v"]) for r in
                 merge_upsert(tgt, upd, key_col="id").collect())
    assert got == [(1, "a"), (2, "B"), (3, "c"), (4, "D")]


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column semantics: a later snapshot writes an extra
    column; the latest read surfaces it with NULL backfill on old rows,
    while an as-of read of the earlier snapshot projects to the schema
    that existed then (the new column is invisible, not null-filled)."""
    root = str(tmp_path / "ckpt_evo")
    sink = CheckpointedSink(root)
    v1 = spark.range(20).withColumn("part", (F.col("id") % 4).cast("long")) \
        .withColumn("a", F.col("id") * 2)
    sink.write_partitioned(v1.filter(F.col("part") < 2), "part",
                           run_id="v1")
    v2 = spark.range(20).withColumn("part", (F.col("id") % 4).cast("long")) \
        .withColumn("a", F.col("id") * 2) \
        .withColumn("b", F.lit("new"))
    sink.write_partitioned(v2, "part", run_id="v2")

    latest = sink.read(spark)
    assert "b" in latest.columns
    rows = latest.collect()
    assert len(rows) == 20
    # old partitions (0,1) read b as NULL; new partitions carry it
    by_part = {}
    for r in rows:
        by_part.setdefault(r["pk"], set()).add(r["b"])
    assert by_part[0] == {None} and by_part[1] == {None}
    assert by_part[2] == {"new"} and by_part[3] == {"new"}

    old_view = sink.read(spark, as_of=1)
    assert "b" not in old_view.columns
    assert old_view.count() == 10


def test_compaction_atomic_and_time_travel_safe(spark, tmp_path):
    """compact() rewrites multi-file partitions into one file via a
    REPLACE snapshot: the live read sees one file per partition with
    identical rows, while as-of reads BEFORE the compaction still
    resolve the original small files (they stay on disk)."""
    root = str(tmp_path / "ckpt_cmp")
    sink = CheckpointedSink(root)
    df = (spark.range(400)
          .withColumn("part", (F.col("id") % 3).cast("long"))
          .repartition(6))  # several files per partition dir
    sink.write_partitioned(df, "part", run_id="bulk")

    pre_files = sink._files_as_of(None)
    assert any(len([f for f in pre_files if f.startswith(d)]) > 1
               for d in {f.split("/")[0] for f in pre_files})
    before_rows = sorted(r["id"] for r in sink.read(spark).collect())

    r = sink.compact(spark)
    assert r["compacted_partitions"] == 3
    post_files = sink._files_as_of(None)
    per_dir = {}
    for f in post_files:
        per_dir.setdefault(f.split("/")[0], []).append(f)
    assert all(len(v) == 1 for v in per_dir.values())

    after_rows = sorted(r_["id"] for r_ in sink.read(spark).collect())
    assert after_rows == before_rows
    # time travel to the pre-compaction snapshot resolves the OLD files
    old_view = sink.read(spark, as_of=1)
    assert sorted(r_["id"] for r_ in old_view.collect()) == before_rows
    assert sink._files_as_of(1) == pre_files
    # idempotent: nothing left to compact
    r2 = sink.compact(spark)
    assert r2["compacted_partitions"] == 0


def test_vacuum_reclaims_compacted_files_and_sets_horizon(spark, tmp_path):
    root = str(tmp_path / "ckpt_vac")
    sink = CheckpointedSink(root)
    df = (spark.range(300)
          .withColumn("part", (F.col("id") % 2).cast("long"))
          .repartition(5))
    sink.write_partitioned(df, "part", run_id="bulk")
    sink.compact(spark)
    rows_before = sorted(r["id"] for r in sink.read(spark).collect())
    n_files_before = len(sink._list_data_files())

    r = sink.vacuum()
    assert r["deleted_files"] > 0
    assert len(sink._list_data_files()) == n_files_before \
        - r["deleted_files"]
    # live view identical after reclaim
    assert sorted(x["id"] for x in sink.read(spark).collect()) \
        == rows_before
    # time travel below the horizon is an explicit error now
    with pytest.raises(ValueError, match="vacuum horizon"):
        sink.read(spark, as_of=1)
    # and at/after the horizon still works
    assert sink.read(spark, as_of=2).count() == 300


def test_vacuum_refuses_horizon_beyond_log(spark, tmp_path):
    """A horizon past the last snapshot would mark every file
    unreferenced and delete the table — it must refuse instead."""
    root = str(tmp_path / "ckpt_vg")
    sink = CheckpointedSink(root)
    df = spark.range(10).withColumn("part", (F.col("id") % 2).cast("long"))
    sink.write_partitioned(df, "part")
    with pytest.raises(ValueError, match="outside committed range"):
        sink.vacuum(before_snapshot=99)
    assert sink.read(spark).count() == 10


def test_write_partitioned_rejects_null_keys(spark, tmp_path):
    from tilemaker_spark.lineage import CheckpointedSink
    sink = CheckpointedSink(str(tmp_path / "nullpk"))
    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "part long, v string")
    with pytest.raises(ValueError, match="NULL partition key"):
        sink.write_partitioned(df, "part")


def test_read_fresh_sink_is_empty_not_an_error(spark, tmp_path):
    from tilemaker_spark.lineage import CheckpointedSink
    sink = CheckpointedSink(str(tmp_path / "fresh"))
    assert sink.read(spark).count() == 0
    assert sink.read(spark, as_of=0).count() == 0
