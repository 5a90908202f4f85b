"""Streaming jobs: incremental point->tile rollups and windowed event aggs.

Two entry points:

* :func:`streaming_tile_counts` — readStream over an append-only directory
  of point records (lon/lat), assign z/x/y with the same Catalyst tile
  expressions as the batch path, aggregate counts per tile in update mode.
  This is the streaming analogue of the reference's --merge incremental
  tile update (/root/reference/src/tile_worker.cpp:533-537): new points
  fold into existing per-tile state instead of rebuilding the pyramid.

* :func:`streaming_event_windows` — event-time tumbling windows with a
  watermark for late data, the standard Structured Streaming shape.

* :func:`streaming_sessions` — gap-based session rollups via the native
  ``session_window`` (state-store-backed merging windows), the streaming
  twin of operators/sessions.sessionize: same gap semantics, state
  bounded by the watermark horizon.

* :func:`streaming_scd2` — constant-state type-2 dimension maintenance
  (applyInPandasWithState), the streaming twin of
  operators/temporal.scd2_history: emits one row per version open.

All return the unstarted ``DataStreamWriter``-ready DataFrame so callers
pick sink and trigger; tests drive them with file sources + memory sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sql import tile_exprs as TE


def streaming_tile_counts(spark: SparkSession, input_dir: str,
                          schema: str = "id long, lon double, lat double, "
                                        "ts timestamp",
                          zoom: int = 10) -> DataFrame:
    src = spark.readStream.schema(schema).json(input_dir)
    return (
        src.select(
            TE.lon2tilex(F.col("lon"), zoom).alias("x"),
            TE.lat2tiley(F.col("lat"), zoom).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
    )


def streaming_event_windows(spark: SparkSession, input_dir: str,
                            schema: str = "event_id long, ts timestamp, "
                                          "event_type string, value double",
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    src = spark.readStream.schema(schema).json(input_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "sum_value")
    )


def streaming_sessions(spark: SparkSession, input_dir: str,
                       schema: str = "event_id long, ts timestamp, "
                                     "user_id long, value double",
                       gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    src = spark.readStream.schema(schema).json(input_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("value_sum"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events",
                "value_sum")
    )


def streaming_first_seen(spark: SparkSession, input_dir: str,
                         schema: str = "doc_id long, user_id long, "
                                       "fp string, ts timestamp") -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState):
    per-key first-seen dedup — emit each (user_id, fp) fingerprint only
    the FIRST time it appears across the whole stream, the streaming
    form of exact dedup (operators/dedup.exact_dedup's batch twin).
    ``dropDuplicates`` on a stream needs an event-time watermark bound;
    this keeps an explicit per-user seen-set in the state store instead,
    demonstrating the arbitrary-stateful API surface: state schema, an
    Arrow-batched update function, and append-mode emission.

    Scale: state is partitioned by user_id (one shuffle), each user's
    set bounded by their distinct-fingerprint count; on an unbounded
    keyspace add a GroupStateTimeout TTL.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    src = spark.readStream.schema(schema).json(input_dir)

    def dedup_fn(key, pdfs, state: GroupState):
        (seen,) = state.get if state.exists else ([],)
        seen_set = set(seen)
        out = []
        for pdf in pdfs:
            # order within the batch: first occurrence wins
            for doc_id, fp in zip(pdf["doc_id"], pdf["fp"]):
                if fp not in seen_set:
                    seen_set.add(fp)
                    out.append((int(doc_id), key[0], fp))
        state.update((list(seen_set),))
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "user_id", "fp"])

    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            dedup_fn,
            outputStructType="doc_id long, user_id long, fp string",
            stateStructType="seen array<string>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


def streaming_kmv_distinct(spark: SparkSession, input_dir: str,
                           key_col: str = "user_id",
                           group_col: str = "event_type",
                           k: int = 64, salt: int = 1,
                           schema: str = "event_id long, user_id long, "
                                         "event_type string, "
                                         "ts timestamp") -> DataFrame:
    """Streaming twin of operators/sketches.kmv_distinct: a running
    per-group approximate COUNT(DISTINCT) whose state is a BOUNDED KMV
    bottom-k sketch (<= k int64 hashes per group in the state store —
    the state never grows with the stream, unlike a streaming
    dropDuplicates whose seen-set is unbounded without a watermark).

    Because the sketch is a merge-associative SET (k smallest distinct
    hashes), the running estimate is order- and batching-independent:
    after any prefix of the stream it equals the batch operator run on
    that prefix — tests assert bit-equality of the final micro-batch
    row against batch kmv_distinct on the full input.  Each micro-batch
    emits one refreshed (group, est_distinct, sketch_size) row per
    group seen in that batch (append mode: downstream keeps the latest
    row per group)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    import pandas as pd

    from ..operators import sketches

    src = spark.readStream.schema(schema).json(input_dir)
    hashed = src.select(
        F.col(group_col),
        sketches.kmv_hash_col(key_col, salt).alias("__h"))

    def upd(key, pdfs, state):
        mins = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            mins.update(int(h) for h in pdf["__h"])
            if len(mins) > k:
                mins = set(sorted(mins)[:k])
        ordered = sorted(mins)
        state.update((ordered,))
        n = len(ordered)
        # same pure-int64 estimator as the batch operator
        est = n if n < k else (k - 1) * sketches.HASH_SPACE // ordered[k - 1]
        yield pd.DataFrame({group_col: [key[0]],
                            "est_distinct": [est],
                            "sketch_size": [n]})

    return (hashed.groupBy(group_col).applyInPandasWithState(
        upd,
        outputStructType=f"{group_col} string, est_distinct long, "
                         "sketch_size int",
        stateStructType="mins array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))


def streaming_heavy_hitters(spark: SparkSession, input_dir: str,
                            key_col: str = "fp", k: int = 64,
                            schema: str = "doc_id long, user_id long, "
                                          "fp string, ts timestamp"
                            ) -> DataFrame:
    """Streaming Misra-Gries candidates: a BOUNDED (<= k counters)
    running summary of the hottest keys across the whole stream —
    state never grows with distinct-key cardinality, unlike a
    streaming groupBy-count whose state is one row per key ever seen.

    The MG guarantee carries over unchanged: a key's counter only
    loses mass when >= k other units drop with it, so any key holding
    > 1/(k+1) of the stream SO FAR is guaranteed present in the state
    (superset invariant, pytest-checked against an exact recount after
    every batch).  Counter VALUES are summary lower bounds, not exact
    counts — callers recount candidates exactly, same as the batch
    operator's second pass.  Each micro-batch emits the refreshed
    candidate set (append mode; downstream keeps the latest rows)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    import numpy as np
    import pandas as pd

    src = spark.readStream.schema(schema).json(input_dir)
    keyed = src.select(F.lit(0).alias("__g"), F.col(key_col).alias("__k"))

    def upd(key, pdfs, state):
        if state.exists:
            ks, vs = state.get
            d = dict(zip(ks, vs))
        else:
            d = {}
        for pdf in pdfs:
            for kk, cnt in pdf["__k"].value_counts().items():
                d[kk] = d.get(kk, 0) + int(cnt)
            if len(d) > k:
                vals = np.sort(np.fromiter(d.values(), dtype="int64"))
                c = int(vals[len(d) - k - 1])
                d = {kk: v - c for kk, v in d.items() if v > c}
        state.update((list(d.keys()), [int(v) for v in d.values()]))
        yield pd.DataFrame({"key": list(d.keys()),
                            "lower_bound": [int(v) for v in d.values()]})

    return (keyed.groupBy("__g").applyInPandasWithState(
        upd,
        outputStructType="key string, lower_bound long",
        stateStructType="ks array<string>, vs array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))


def streaming_scd2(spark: SparkSession, input_dir: str,
                   schema: str = "event_id long, ts timestamp, "
                                 "user_id long, event_type string") \
        -> DataFrame:
    """Streaming twin of operators/temporal.scd2_history: maintain each
    user's type-2 dimension ACROSS micro-batches and emit one row per
    version OPEN — (user_id, event_type, valid_from_us, version).  The
    previous version's valid_to is derivable downstream as the next
    version's valid_from (append mode cannot retract the open row to
    close it — the standard streaming-SCD2 contract).

    State per user is constant-size: (current attr, version counter) —
    unlike a seen-set it never grows with the stream, so the state
    store stays bounded at any key cardinality.

    Ordering contract: rows are applied in (ts, event_id) order WITHIN
    each micro-batch — the group's Arrow chunks are CONCATENATED before
    the sort, because applyInPandasWithState hands a large group over
    as several chunks in arbitrary order — and batches are applied in
    arrival order, so the emitted history equals the batch scd2_history
    change rows whenever each user's events arrive in timestamp order
    across batches (the usual CDC-log guarantee).  Late cross-batch
    reordering needs a watermark-bounded reorder buffer upstream; this
    operator states the in-order contract rather than hiding the
    divergence.

    Null ``event_type`` mirrors the batch twin's SQL-null semantics
    exactly: a null is kept only when the previous row's value is
    missing-or-null (the lag-isNull branch), and any row FOLLOWING a
    null is kept (null != x is SQL-null, so the batch filter keeps it).
    A null ``ts`` sorts first and gives a NULL ``valid_from_us``, as the
    batch twin's ascending window order and ``unix_micros`` do.

    Requires a UTC session timezone (this repo's session.py default):
    pandas receives session-local naive timestamps, so a non-UTC
    session would shift valid_from_us off epoch — rejected here rather
    than silently diverging from the batch twin.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
        raise ValueError(
            f"streaming_scd2 needs a UTC session timezone, got {tz!r}: "
            "pandas sees session-local naive timestamps, so valid_from_us "
            "would be offset from unix_micros in the batch twin")

    src = spark.readStream.schema(schema).json(input_dir)

    def scd2_fn(key, pdfs, state: GroupState):
        if state.exists:
            prev, version = state.get
            started = True
        else:
            prev, version, started = None, 0, False
        chunks = [pdf for pdf in pdfs]
        if not chunks:  # timeout-only invocation: nothing to apply
            return
        pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
               else chunks[0]).sort_values(["ts", "event_id"],
                                           na_position="first")
        ts_us = pdf["ts"].astype("int64") // 1000  # NaT: int64-min
        out = []
        for attr, t, nat in zip(pdf["event_type"], ts_us, pdf["ts"].isna()):
            attr = None if pd.isna(attr) else attr
            # batch filter: lag(attr) IS NULL OR lag(attr) != attr,
            # with SQL null semantics (null != x -> null -> dropped)
            if (not started) or prev is None or (
                    attr is not None and attr != prev):
                version += 1
                out.append((key[0], attr, None if nat else int(t), version))
            prev, started = attr, True
        state.update((prev, version))
        if out:
            yield pd.DataFrame(out, columns=[
                "user_id", "event_type", "valid_from_us", "version"])

    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            scd2_fn,
            outputStructType="user_id long, event_type string, "
                             "valid_from_us long, version int",
            stateStructType="cur string, version int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )
