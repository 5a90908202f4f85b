"""Sessionization: batch lag/cumsum vs hand-computed sessions, the
streaming session_window twin, and the BPE pre-tokenizer counter."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.operators import sessions, text


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, minute // 60, minute % 60, second)


@pytest.fixture()
def events(spark):
    # user 1: events at 0, 10, 20 min (one session), 60 min (gap 40 ->
    # new session), 70 min.  user 2: 0 min, 45 min (two sessions).
    rows = [
        (1, _ts(0), 1, 1.0), (2, _ts(10), 1, 2.0), (3, _ts(20), 1, 3.0),
        (4, _ts(60), 1, 4.0), (5, _ts(70), 1, 5.0),
        (6, _ts(0), 2, 10.0), (7, _ts(45), 2, 20.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def test_sessionize_boundaries(events):
    out = sessions.sessionize(events, gap_minutes=30.0)
    got = {r["event_id"]: r["session_idx"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1, 7: 2}


def test_sessionize_gap_is_exclusive(spark):
    # gap EXACTLY equal to the threshold does NOT start a new session
    # (strictly-greater comparison, matching the SQL twin)
    rows = [(1, _ts(0), 1, 1.0), (2, _ts(30), 1, 1.0),
            (3, _ts(60, 1), 1, 1.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")
    got = {r["event_id"]: r["session_idx"]
           for r in sessions.sessionize(df, gap_minutes=30.0).collect()}
    assert got == {1: 1, 2: 1, 3: 2}


def test_session_stats(events):
    out = sessions.session_stats(events, gap_minutes=30.0)
    rows = {(r["user_id"], r["session_idx"]): r for r in out.collect()}
    s11 = rows[(1, 1)]
    assert s11["n_events"] == 3 and s11["value_sum"] == 6.0
    assert s11["duration_s"] == 1200.0
    assert s11["session_id"] == 1000001
    assert rows[(2, 2)]["n_events"] == 1
    assert rows[(2, 2)]["duration_s"] == 0.0


def test_sessionize_matches_oracle(spark, sf_dir):
    """Full-table equality with the DuckDB twin at sf0.001."""
    import duckdb
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = sessions.session_stats(ev, gap_minutes=30.0).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    want = con.execute(sessions.sessionize_oracle_sql()).fetchdf()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True) \
        .astype(g.dtypes.to_dict())
    assert len(g) == len(w) and len(g) > 0
    assert g.equals(w)


def test_streaming_sessions_matches_batch(spark, tmp_path):
    """The session_window streaming path groups the same events into the
    same sessions as the batch lag/cumsum path."""
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1,
         "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:10:00", "user_id": 1,
         "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01 01:00:00", "user_id": 1,
         "value": 4.0},
        {"event_id": 4, "ts": "2024-01-01 00:00:00", "user_id": 2,
         "value": 10.0},
    ]
    src = tmp_path / "stream_in"
    src.mkdir()
    with open(src / "batch0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    from tilemaker_spark.streaming import jobs
    out = jobs.streaming_sessions(spark, str(src), gap="30 minutes")
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        got = {(r["user_id"], str(r["session_start"])): r["n_events"]
               for r in spark.sql("SELECT * FROM sess").collect()}
    finally:
        q.stop()
    assert got == {(1, "2024-01-01 00:00:00"): 2,
                   (1, "2024-01-01 01:00:00"): 1,
                   (2, "2024-01-01 00:00:00"): 1}


def test_bpe_token_count_known_values(spark):
    rows = [(1, "Hello world"), (2, "it's 42 degrees!"), (3, ""),
            (4, "a  b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_pretokens"]
           for r in text.bpe_token_count(df).collect()}
    # "Hello"," world" = 2; "it","'s"," 42"," degrees","!" = 5;
    # "" = 0; "a","b" = 2 (the double space is a separator run)
    assert got == {1: 2, 2: 5, 3: 0, 4: 2}


def test_bpe_token_count_matches_oracle(spark, sf_dir):
    import duckdb
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = text.bpe_token_count(d).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = con.execute(text.bpe_token_count_oracle_sql()).fetchdf()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True) \
        .astype(g.dtypes.to_dict())
    assert len(g) == len(w) and len(g) > 0
    assert g.equals(w)


def test_streaming_first_seen_dedups_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps the per-user seen-set across
    micro-batches: a fingerprint emitted in batch 0 is suppressed in
    batch 1, while a new user's copy of the same fp still emits."""
    src = tmp_path / "fs_in"
    src.mkdir()
    b0 = [
        {"doc_id": 1, "user_id": 1, "fp": "aaa", "ts": "2024-01-01 00:00:00"},
        {"doc_id": 2, "user_id": 1, "fp": "aaa", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 3, "user_id": 1, "fp": "bbb", "ts": "2024-01-01 00:00:02"},
    ]
    with open(src / "b0.json", "w") as f:
        for r in b0:
            f.write(json.dumps(r) + "\n")
    from tilemaker_spark.streaming import jobs
    out = jobs.streaming_first_seen(spark, str(src))
    q = (out.writeStream.format("memory").queryName("first_seen")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got0 = {(r["user_id"], r["fp"]) for r in
                spark.sql("SELECT * FROM first_seen").collect()}
        assert got0 == {(1, "aaa"), (1, "bbb")}
        b1 = [
            {"doc_id": 4, "user_id": 1, "fp": "aaa",
             "ts": "2024-01-01 00:10:00"},           # dup across batches
            {"doc_id": 5, "user_id": 2, "fp": "aaa",
             "ts": "2024-01-01 00:10:01"},           # new user, emits
            {"doc_id": 6, "user_id": 1, "fp": "ccc",
             "ts": "2024-01-01 00:10:02"},           # new fp, emits
        ]
        with open(src / "b1.json", "w") as f:
            for r in b1:
                f.write(json.dumps(r) + "\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM first_seen").collect()
        ids = sorted(r["doc_id"] for r in rows)
        assert ids == [1, 3, 5, 6]
    finally:
        q.stop()


def test_max_concurrency_matches_bruteforce(spark):
    """Per-day peak concurrency equals a sequential sweep, including a
    session spanning midnight (carried into the next day's count) and
    single-event sessions (+1/-1 at the same instant count once)."""
    import datetime as dt
    from tilemaker_spark.operators.sessions import max_concurrency
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # user u emits a burst starting at base + offset minutes lasting
    # dur minutes (events every 10 min keep one session per burst)
    # burst 7 runs 23:00 day2 -> 01:00 day3: day3's peak happens
    # BEFORE its first delta row (the -1), so only the midnight
    # sentinel reports it — the continuous-time regression case
    bursts = [(1, 0, 50), (2, 20, 50), (3, 30, 5), (4, 23*60+30, 90),
              (5, 24*60+10, 30), (6, 40, 0), (7, 47*60, 120)]
    for u, off, dur in bursts:
        t = 0
        while True:
            rows.append((eid, base + dt.timedelta(minutes=off + t), u))
            eid += 1
            if t >= dur:
                break
            t = min(t + 10, dur)
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    got = {r["day"]: r["max_concurrent"] for r in
           max_concurrency(df, gap_minutes=30).collect()}
    # brute force: sweep the interval list per microsecond-sorted deltas
    iv = {}
    for eid_, ts, u in rows:
        k = u
        iv.setdefault(k, []).append(ts)
    deltas = []
    for times in iv.values():
        times.sort()
        start = prev = times[0]
        for t in times[1:]:
            if (t - prev).total_seconds() > 1800:
                deltas.append((start, prev))
                start = t
            prev = t
        deltas.append((start, prev))
    ev = []
    for s, e in deltas:
        ev.append((s, 0, +1))
        ev.append((e, 1, -1))
        # zero-delta sentinel at every midnight the session spans
        # (tie -1: read the concurrency carried INTO the day)
        for day in range(int(s.timestamp() // 86400) + 1,
                         int(e.timestamp() // 86400) + 1):
            ev.append((dt.datetime.fromtimestamp(day * 86400),
                       -1, 0))
    ev.sort(key=lambda x: (x[0], x[1]))
    conc, best = 0, {}
    for t, _, d in ev:
        conc += d
        day = int(t.timestamp() // 86400)
        best[day] = max(best.get(day, 0), conc)
    assert got == best
    # day3 exists with exactly the spanning session counted
    day3 = int((base + dt.timedelta(days=2)).timestamp() // 86400)
    assert got[day3] == 1


def test_streaming_scd2_matches_batch_on_inorder_stream(spark, tmp_path):
    """streaming_scd2 across two micro-batches equals the batch
    scd2_history change rows (minus valid_to, which append mode cannot
    retract) when events arrive in per-user timestamp order; state
    carries the current attr across batches so an unchanged value
    arriving in a later batch does NOT open a new version."""
    import pandas as pd

    src = tmp_path / "scd2_in"
    src.mkdir()
    b0 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:10", "user_id": 1,
         "event_type": "x"},
        {"event_id": 2, "ts": "2024-01-01 00:00:20", "user_id": 1,
         "event_type": "y"},
        {"event_id": 3, "ts": "2024-01-01 00:00:15", "user_id": 2,
         "event_type": "z"},
    ]
    b1 = [
        # same value as user 1's current -> suppressed
        {"event_id": 4, "ts": "2024-01-01 00:01:00", "user_id": 1,
         "event_type": "y"},
        # change -> version 3
        {"event_id": 5, "ts": "2024-01-01 00:02:00", "user_id": 1,
         "event_type": "x"},
        # same value for user 2 -> suppressed
        {"event_id": 6, "ts": "2024-01-01 00:02:30", "user_id": 2,
         "event_type": "z"},
    ]
    with open(src / "b0.json", "w") as f:
        for r in b0:
            f.write(json.dumps(r) + "\n")
    from tilemaker_spark.streaming import jobs
    out = jobs.streaming_scd2(spark, str(src))
    q = (out.writeStream.format("memory").queryName("scd2_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        with open(src / "b1.json", "w") as f:
            for r in b1:
                f.write(json.dumps(r) + "\n")
        q.processAllAvailable()
        got = sorted(
            (r["user_id"], r["version"], r["event_type"],
             r["valid_from_us"])
            for r in spark.sql("SELECT * FROM scd2_stream").collect())
    finally:
        q.stop()

    # batch twin over the full log
    from tilemaker_spark.operators import temporal
    pdf = pd.DataFrame(b0 + b1)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    batch = sorted(
        (r["user_id"], r["version"], r["event_type"], r["valid_from_us"])
        for r in temporal.scd2_history(spark.createDataFrame(pdf))
        .collect())
    assert got == batch
    assert [g[:3] for g in got] == [
        (1, 1, "x"), (1, 2, "y"), (1, 3, "x"), (2, 1, "z")]


def test_streaming_scd2_sorts_across_arrow_chunks(spark, tmp_path):
    """A group bigger than one Arrow chunk must be concatenated before
    the (ts, event_id) sort — per-chunk sorting would fabricate
    versions when later-timestamp rows land in an earlier chunk.  The
    file stores one user's events in REVERSE timestamp order with
    maxRecordsPerBatch=2, so any per-chunk processing order diverges."""
    import pandas as pd

    src = tmp_path / "scd2_chunks"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01 00:00:{10 + i:02d}",
         "user_id": 1, "event_type": t}
        for i, t in enumerate(["a", "a", "b", "b", "a", "c"])
    ]
    with open(src / "b0.json", "w") as f:
        for r in reversed(rows):
            f.write(json.dumps(r) + "\n")
    from tilemaker_spark.streaming import jobs
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = jobs.streaming_scd2(spark, str(src))
        q = (out.writeStream.format("memory").queryName("scd2_chunked")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = sorted(
                (r["version"], r["event_type"]) for r in
                spark.sql("SELECT * FROM scd2_chunked").collect())
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == [(1, "a"), (2, "b"), (3, "a"), (4, "c")]


def test_streaming_scd2_null_attr_matches_batch(spark, tmp_path):
    """Null event_type follows the batch twin's SQL-null lag filter: a
    null after a value is dropped, the row after a null is kept, and a
    leading null opens version 1.  A null ts sorts first and gives a
    NULL valid_from_us."""
    import pandas as pd

    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:00:01", "user_id": 1,
         "event_type": "x"},
        {"event_id": 2, "ts": "2024-01-01 00:00:02", "user_id": 1,
         "event_type": None},          # null after value: dropped
        {"event_id": 3, "ts": "2024-01-01 00:00:03", "user_id": 1,
         "event_type": "x"},           # after null: kept (v2, same value)
        {"event_id": 4, "ts": "2024-01-01 00:00:04", "user_id": 2,
         "event_type": None},          # leading null: v1
        {"event_id": 5, "ts": "2024-01-01 00:00:05", "user_id": 2,
         "event_type": "y"},           # after null: kept
        {"event_id": 6, "ts": None, "user_id": 1,
         "event_type": "w"},           # null ts: sorts first, NULL from
    ]
    src = tmp_path / "scd2_nulls"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    from tilemaker_spark.streaming import jobs
    out = jobs.streaming_scd2(spark, str(src))
    q = (out.writeStream.format("memory").queryName("scd2_nulls")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = sorted(
            (r["user_id"], r["version"], r["event_type"], r["valid_from_us"])
            for r in spark.sql("SELECT * FROM scd2_nulls").collect())
    finally:
        q.stop()

    # batch twin over the same rows
    from tilemaker_spark.operators import temporal
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    batch = sorted(
        (r["user_id"], r["version"], r["event_type"], r["valid_from_us"])
        for r in temporal.scd2_history(spark.createDataFrame(pdf)).collect())
    assert got == batch
    s = 1704067200 * 10**6  # 2024-01-01 00:00:00 UTC in µs
    assert got == [(1, 1, "w", None), (1, 2, "x", s + 1_000_000),
                   (1, 3, "x", s + 3_000_000), (2, 1, None, s + 4_000_000),
                   (2, 2, "y", s + 5_000_000)]
