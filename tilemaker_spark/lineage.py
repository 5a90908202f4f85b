"""Checkpointed, idempotently-resumable runs with per-partition lineage.

BASELINE.json requires: "checkpoints per-partition lineage and tile-level
metrics to Iceberg, resumes idempotently from the last committed
snapshot".  No Iceberg runtime jars exist in this offline container, so
the same contract is implemented on plain Parquet with an atomic manifest
(the Iceberg-snapshot pattern: data files first, then a single atomic
metadata commit; swapping the storage layer for real Iceberg is a
one-call change since everything goes through this module).

Layout under ``root``:
    data/pk=<key>/*.parquet      -- output rows per partition key
    lineage/*.parquet            -- per-partition lineage rows
    _manifest/<n>.json           -- snapshot n: list of committed keys

A partition key is committed only after its data files are fully
written; re-running skips committed keys (idempotent resume).  The
lineage schema follows FIXTURES.md §6.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, pk long, snapshot_id long, rows_in long, rows_out long, "
    "wall_ms long, committed_at string"
)


class CheckpointedSink:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "lineage"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------
    def _snapshots(self) -> list[str]:
        d = os.path.join(self.root, "_manifest")
        return sorted(
            (f for f in os.listdir(d) if f.endswith(".json")),
            key=lambda f: int(f.split(".")[0]),
        )

    def committed_keys(self) -> set[int]:
        keys: set[int] = set()
        for f in self._snapshots():
            with open(os.path.join(self.root, "_manifest", f)) as fh:
                keys.update(json.load(fh)["keys"])
        return keys

    def last_snapshot_id(self) -> int:
        snaps = self._snapshots()
        return int(snaps[-1].split(".")[0]) if snaps else 0

    def _list_data_files(self) -> set[str]:
        """Relative paths of every parquet data file under data/."""
        data = os.path.join(self.root, "data")
        out = set()
        for dirpath, _dirs, files in os.walk(data):
            rel = os.path.relpath(dirpath, data)
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.path.join(rel, f))
        return out

    def _files_as_of(self, as_of: int | None) -> list[str] | None:
        """Replay the manifest log to the live file set AS OF a
        snapshot (Iceberg manifest semantics: each snapshot adds and/or
        removes files; compaction snapshots replace many small files
        with one).  Returns None when any contributing manifest
        predates file tracking (pre-evolution layout) — the reader
        then falls back to directory listing."""
        files: set[str] = set()
        for f in self._snapshots():
            sid = int(f.split(".")[0])
            if as_of is not None and sid > as_of:
                continue
            with open(os.path.join(self.root, "_manifest", f)) as fh:
                m = json.load(fh)
            if "added_files" not in m:
                return None
            files.update(m["added_files"])
            files.difference_update(m.get("removed_files", []))
        return sorted(files)

    def compact(self, spark: SparkSession) -> dict:
        """Atomic small-file compaction (the Iceberg rewrite-data-files
        maintenance op): rewrite every multi-file partition into one
        file, then commit a REPLACE snapshot whose manifest swaps the
        small files for the compacted ones.  Readers at any earlier
        ``as_of`` still resolve the old files (they stay on disk until
        a vacuum); the commit itself is one atomic rename, so a crash
        mid-compaction leaves the table readable and un-switched.
        Single-writer, like every maintenance op here."""
        live = self._files_as_of(None)
        if live is None:
            raise ValueError("table predates file tracking; rewrite it "
                             "with a current write_partitioned first")
        data = os.path.join(self.root, "data")
        by_pk: dict[str, list[str]] = {}
        for rel in live:
            by_pk.setdefault(os.path.dirname(rel), []).append(rel)
        added: list[str] = []
        removed: list[str] = []
        for pk_dir, rels in sorted(by_pk.items()):
            if len(rels) < 2:
                continue
            paths = [os.path.join(data, r) for r in rels]
            before = self._list_data_files()
            (spark.read.parquet(*paths).coalesce(1)
             .write.mode("append")
             .parquet(os.path.join(data, pk_dir)))
            added += sorted(self._list_data_files()
                            - before - set(live))
            removed += rels
        if not removed:
            return {"snapshot_id": self.last_snapshot_id(),
                    "compacted_partitions": 0}
        snap = self.last_snapshot_id() + 1
        tmp = os.path.join(self.root, "_manifest", f".{snap}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"snapshot_id": snap, "run_id": "compact",
                       "keys": [], "operation": "replace",
                       "added_files": added, "removed_files": removed,
                       "committed_at": time.time()}, fh)
        os.replace(tmp,
                   os.path.join(self.root, "_manifest", f"{snap}.json"))
        return {"snapshot_id": snap,
                "compacted_partitions": len(set(map(os.path.dirname,
                                                    removed)))}

    def vacuum(self, before_snapshot: int | None = None) -> dict:
        """Delete data files no snapshot >= ``before_snapshot`` can
        resolve (Iceberg's expire-snapshots + remove-orphans pair):
        files REPLACED by compaction stay on disk only to serve
        time travel; vacuuming gives that up below the horizon and
        reclaims the space.  Defaults to the latest snapshot (keep only
        the live view).  read(as_of < horizon) raises afterwards."""
        last = self.last_snapshot_id()
        if before_snapshot is None:
            before_snapshot = last
        if not 1 <= before_snapshot <= last:
            # a horizon beyond the log would make every file unreferenced
            # and DELETE THE TABLE — refuse, like read() refuses an
            # unknown as_of
            raise ValueError(
                f"before_snapshot={before_snapshot} outside committed "
                f"range [1, {last}]")
        live_after = set()
        for f in self._snapshots():
            sid = int(f.split(".")[0])
            if sid < before_snapshot:
                continue
            got = self._files_as_of(sid)
            if got is None:
                raise ValueError("table predates file tracking")
            live_after.update(got)
        all_files = self._list_data_files()
        doomed = sorted(all_files - live_after)
        data = os.path.join(self.root, "data")
        for rel in doomed:
            os.remove(os.path.join(data, rel))
        horizon_path = os.path.join(self.root, "_manifest", "_horizon")
        tmp = horizon_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"min_as_of": before_snapshot}, fh)
        os.replace(tmp, horizon_path)
        return {"deleted_files": len(doomed),
                "min_as_of": before_snapshot}

    def _horizon(self) -> int:
        p = os.path.join(self.root, "_manifest", "_horizon")
        if not os.path.exists(p):
            return 0
        with open(p) as fh:
            return json.load(fh)["min_as_of"]

    # -- the checkpointed write -----------------------------------------
    def write_partitioned(self, df: DataFrame, pk_col: str,
                          run_id: str = "run") -> dict:
        """Write df partitioned by pk_col, skipping already-committed keys.

        Returns {written_keys, skipped_keys, snapshot_id}.  The manifest
        commit is a single atomic rename — a crash mid-write leaves
        uncommitted data files that the next run overwrites.
        """
        spark = df.sparkSession
        t0 = time.time()
        done = self.committed_keys()
        # cache across the three actions below (keys collect, parquet
        # write, lineage counts): without it Spark recomputes the input
        # per action — 3x the cost, and a nondeterministic upstream
        # could commit one row set while lineage records another
        pending = df.withColumn("pk", F.col(pk_col).cast("long")).persist()
        try:
            all_keys = {r["pk"]
                        for r in pending.select("pk").distinct().collect()}
            if None in all_keys:
                raise ValueError(
                    f"NULL partition key in {pk_col!r} (or a value the "
                    "cast to long nulled out): checkpoint partition keys "
                    "must be non-null integers — filter or repair before "
                    "write_partitioned")
            todo = sorted(all_keys - done)
            if not todo:
                return {"written_keys": [], "skipped_keys": sorted(done),
                        "snapshot_id": self.last_snapshot_id()}
            sub = pending.filter(F.col("pk").isin([int(k) for k in todo]))
            data_dir = os.path.join(self.root, "data")
            before = self._list_data_files()
            sub.write.mode("append").partitionBy("pk").parquet(data_dir)
            added = sorted(self._list_data_files() - before)
            counts = {r["pk"]: r["n"] for r in
                      sub.groupBy("pk").agg(F.count("*").alias("n"))
                      .collect()}
        finally:
            pending.unpersist()

        snap = self.last_snapshot_id() + 1
        lineage_rows = [
            (run_id, int(k), snap, int(counts.get(k, 0)),
             int(counts.get(k, 0)), int((time.time() - t0) * 1000),
             time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
            for k in todo
        ]
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).write.mode(
            "append").parquet(os.path.join(self.root, "lineage"))

        tmp = os.path.join(self.root, "_manifest", f".{snap}.json.tmp")
        with open(tmp, "w") as fh:
            # the snapshot records ITS schema (Iceberg tracks schema per
            # snapshot): as-of readers project to the columns that
            # existed when the snapshot committed
            json.dump({"snapshot_id": snap, "run_id": run_id,
                       "keys": [int(k) for k in todo],
                       "schema": [c for c in sub.columns if c != "pk"],
                       "added_files": added, "removed_files": [],
                       "committed_at": time.time()}, fh)
        os.replace(tmp, os.path.join(self.root, "_manifest", f"{snap}.json"))
        return {"written_keys": todo, "skipped_keys": sorted(done),
                "snapshot_id": snap}

    def read(self, spark: SparkSession,
             as_of: int | None = None) -> DataFrame:
        """Committed rows only (uncommitted partition dirs are filtered).

        ``as_of`` reads the table AS OF snapshot id N (Iceberg-style time
        travel): only partitions committed by snapshots <= N are visible.
        Snapshots are append-only manifests, so the as-of view is exactly
        the table a reader saw right after snapshot N committed.
        An unknown ``as_of`` beyond the latest committed snapshot raises
        (matching Iceberg's unknown-snapshot error) rather than silently
        returning the latest table; ``as_of=0`` is the explicit empty
        view before any snapshot.

        A fresh sink, or one whose data files are all vacuumed, has no
        parquet to take a schema from: it returns an empty frame with the
        single column ``pk bigint``, not the data schema."""
        snaps = [int(f.split(".")[0]) for f in self._snapshots()]
        if as_of is not None and as_of != 0 and (
                not snaps or as_of > max(snaps)):
            raise ValueError(
                f"unknown snapshot as_of={as_of}; latest committed is "
                f"{max(snaps) if snaps else 'none'}")
        if as_of is not None and as_of != 0 and as_of < self._horizon():
            raise ValueError(
                f"as_of={as_of} is below the vacuum horizon "
                f"{self._horizon()}: its files were reclaimed")
        done: set[int] = set()
        for f in self._snapshots():
            sid = int(f.split(".")[0])
            if as_of is not None and sid > as_of:
                continue
            with open(os.path.join(self.root, "_manifest", f)) as fh:
                done.update(json.load(fh)["keys"])
        # schema evolution (Iceberg add-column semantics): later
        # snapshots may carry extra columns; mergeSchema surfaces the
        # union and older rows read the new columns as NULL.  An as-of
        # read projects to the SNAPSHOT's recorded schema, so time
        # travel shows the table exactly as that snapshot's readers saw
        # it — columns added later are invisible, not null-filled.
        files = self._files_as_of(as_of)
        data = os.path.join(self.root, "data")
        if not self._list_data_files():
            # fresh sink (or fully vacuumed): no parquet exists, so the
            # documented empty view cannot carry the data schema yet —
            # a bare pk column is the only stable contract
            return spark.createDataFrame([], "pk bigint")
        if files is not None and files:
            df = (spark.read.option("mergeSchema", "true")
                  .option("basePath", data)
                  .parquet(*[os.path.join(data, f) for f in files]))
        else:
            df = (spark.read.option("mergeSchema", "true")
                  .parquet(data))
        out = df.filter(F.col("pk").isin([int(k) for k in done]))
        if as_of is not None and as_of != 0:
            snap_schema = None
            with open(os.path.join(self.root, "_manifest",
                                   f"{as_of}.json")) as fh:
                snap_schema = json.load(fh).get("schema")
            if snap_schema:
                keep = [c for c in out.columns
                        if c in snap_schema or c == "pk"]
                out = out.select(*keep)
        return out

    def snapshot_log(self) -> list[dict]:
        """The snapshot history (id, run_id, committed key count, commit
        time) — the Iceberg metadata-table analogue for audits."""
        out = []
        for f in self._snapshots():
            with open(os.path.join(self.root, "_manifest", f)) as fh:
                m = json.load(fh)
            out.append({"snapshot_id": m["snapshot_id"],
                        "run_id": m.get("run_id"),
                        "n_keys": len(m["keys"]),
                        "committed_at": m.get("committed_at")})
        return out

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "lineage"))


def merge_upsert(target: DataFrame, updates: DataFrame,
                 key_col: str = "image_id") -> DataFrame:
    """Iceberg-style MERGE INTO (upsert) semantics as one declarative
    plan: rows of ``updates`` REPLACE same-key rows of ``target``
    ("when matched then update *"), unmatched update rows are inserted,
    untouched target rows pass through — the CDC-ingest shape a
    continuously-crawled image corpus needs (re-crawled pages arrive
    as full-row updates).

    Plan: one left_anti join (target keys minus update keys) + a
    unionByName — the anti join shuffles on the compact key unless the
    update batch is small enough for AQE to broadcast it, which is the
    common CDC case (daily delta << table).  Deterministic: output =
    updates ∪ (target ⧹ keys(updates)); no per-row Python, no window.
    Update batches must be key-unique — enforce upstream with
    dropDuplicates(key) so the merge never multiplies rows
    (Iceberg's MERGE raises on multiple matches; we document instead
    of double-scanning the batch to check)."""
    survivors = target.join(updates.select(key_col).distinct(),
                            on=key_col, how="left_anti")
    return survivors.unionByName(updates.select(*target.columns))
