"""Sessionization: batch lag/cumsum vs hand-computed sessions, and the
BPE pre-tokenizer counter."""

import datetime as dt

import pytest

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
