"""Sessionization: gap-based event sessions.

The windows/sorts family's classic stateful operator (SURVEY.md §2.5):
group each user's event stream into sessions separated by an inactivity
gap.  :func:`sessionize` is pure Catalyst: ``lag`` over the (user, ts)
window marks session starts, a running ``sum`` of the marks numbers
them.  Two window passes over ONE shuffle on the user key (both windows
share the partitioning, so Catalyst plans a single Exchange); no UDF,
fully whole-stage-codegen.  Exactly the SQL a DuckDB oracle can mirror,
so its output is hash-checked against one.

Scale notes: one shuffle on user_id; per-user event counts are bounded
(sessions are per-user timelines), so no skew salting is needed beyond
AQE.  At 100 TB it is a single wide stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch(c: Column) -> Column:
    """Timestamp (TZ or NTZ) -> fractional epoch seconds, microsecond
    precision.  NTZ can't cast straight to double in Spark 4; the
    intermediate TIMESTAMP cast is the identity under the session's UTC
    timezone (tilemaker_spark.session pins it), and every use below is a
    DIFFERENCE, which any fixed offset cancels out of regardless."""
    return c.cast("timestamp").cast("double")


def sessionize(df: DataFrame, user_col: str = "user_id",
               ts_col: str = "ts", gap_minutes: float = 30.0,
               order_tiebreak: str | None = "event_id") -> DataFrame:
    """Assign every event a per-user session index (1-based, in time
    order).  A new session starts when the gap to the user's previous
    event exceeds ``gap_minutes``.  Output: input columns +
    ``session_idx`` (long) + ``session_id`` (user_id * 1e6 + idx,
    globally unique for < 1e6 sessions/user)."""
    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_s = gap_minutes * 60.0
    prev = F.lag(F.col(ts_col)).over(w)
    # fractional epoch seconds keep microseconds (int64 us / 1e6 on both
    # engines — bit-identical to DuckDB's epoch()); unix_timestamp
    # would truncate to seconds and split sessions differently
    new_sess = F.when(
        prev.isNull() | ((_epoch(F.col(ts_col)) - _epoch(prev)) > gap_s),
        F.lit(1)).otherwise(F.lit(0))
    out = df.withColumn("_new", new_sess)
    run = Window.partitionBy(user_col).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (out.withColumn("session_idx",
                           F.sum("_new").over(run).cast("long"))
            .withColumn("session_id",
                        (F.col(user_col).cast("long") * F.lit(1000000)
                         + F.col("session_idx")).cast("long"))
            .drop("_new"))


def session_stats(df: DataFrame, user_col: str = "user_id",
                  ts_col: str = "ts", gap_minutes: float = 30.0,
                  value_col: str | None = "value") -> DataFrame:
    """Per-session rollup: start/end, event count, duration seconds,
    optional value sum.  One extra shuffle-free aggregation over the
    sessionized frame (same user-key partitioning)."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(_epoch(F.max(ts_col)) - _epoch(F.min(ts_col)), 6)
        .alias("duration_s"),
    ]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 6).alias("value_sum"))
    return (s.groupBy(F.col(user_col), F.col("session_idx"),
                      F.col("session_id"))
            .agg(*aggs))


def sessionize_oracle_sql(table: str = "events",
                          user_col: str = "user_id", ts_col: str = "ts",
                          gap_minutes: float = 30.0) -> str:
    """DuckDB twin of :func:`session_stats` — identical lag/cumsum
    formulation.  DuckDB's epoch() returns FRACTIONAL seconds, which is
    exactly what the batch path's microsecond-exact _epoch computes —
    NOT unix_timestamp, whose second truncation would split sub-second
    gaps differently (see the comment in sessionize)."""
    gap_s = gap_minutes * 60.0
    return f"""
WITH marked AS (
  SELECT *,
         CASE WHEN lag({ts_col}) OVER w IS NULL
                OR epoch({ts_col}) - epoch(lag({ts_col}) OVER w) > {gap_s}
              THEN 1 ELSE 0 END AS _new
  FROM {table}
  WINDOW w AS (PARTITION BY {user_col} ORDER BY {ts_col}, event_id)
), sess AS (
  SELECT *,
         CAST(sum(_new) OVER (PARTITION BY {user_col}
                              ORDER BY {ts_col}, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM marked
)
SELECT {user_col}, session_idx,
       CAST({user_col} * 1000000 + session_idx AS BIGINT) AS session_id,
       min({ts_col}) AS session_start,
       max({ts_col}) AS session_end,
       count(*) AS n_events,
       round(epoch(max({ts_col})) - epoch(min({ts_col})), 6) AS duration_s,
       round(sum(value), 6) AS value_sum
FROM sess
GROUP BY {user_col}, session_idx
"""


def event_funnel(events: DataFrame,
                 stages: tuple = ("view", "click", "purchase"),
                 user_col: str = "user_id", type_col: str = "event_type",
                 ts_col: str = "ts") -> DataFrame:
    """Ordered event-sequence funnel — the product-analytics staple:
    how many users did stage 1, then stage 2 strictly AFTER their
    first stage-1 event, then stage 3 after that, ...  Each stage is
    one filter + per-user min(ts) + an equi-join back on the user key
    (the previous stage's per-user table is at most #converted-users
    rows, shrinking every stage), so the whole funnel is len(stages)
    compact-key shuffles — never a per-user sort of the raw event log.
    Output: (stage int, event_type, n_users), stage 1-based."""
    if not stages:
        raise ValueError("stages must name at least one event type")
    counts = []
    prev = None  # (user, t_prev) of the last completed stage
    for i, st in enumerate(stages):
        e = events.filter(F.col(type_col) == st)
        if prev is None:
            cur = e.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            cur = (e.join(prev, user_col)
                   .filter(F.col(ts_col) > F.col("_tp"))
                   .groupBy(user_col).agg(F.min(ts_col).alias("_t")))
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("stage"),
                F.lit(st).alias("event_type"), "n_users"))
        prev = cur.select(user_col, F.col("_t").alias("_tp"))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def retention_cohorts(events: DataFrame, signup_type: str = "signup",
                      user_col: str = "user_id",
                      type_col: str = "event_type",
                      ts_col: str = "ts") -> DataFrame:
    """Weekly retention-cohort matrix — the other product-analytics
    staple next to :func:`event_funnel`: users are cohorted by the
    epoch week of their FIRST ``signup_type`` event, and each later
    activity week counts them once at offset (activity_week -
    cohort_week).  Plan: one per-user min-ts agg (compact key), one
    join back onto the log (user key), then a distinct + count on the
    tiny (cohort, offset, user) key — the distinct is what keeps a
    chatty user from inflating a cell.  Weeks are integer
    epoch-day // 7 so both engines bucket identically (no timezone,
    no date truncation semantics).  Output:
    (cohort_week, week_offset, n_users)."""
    wk = lambda c: F.floor(  # noqa: E731
        F.unix_timestamp(c) / F.lit(604800))
    first = (events.filter(F.col(type_col) == signup_type)
             .groupBy(user_col)
             .agg(F.min(ts_col).alias("_t0")))
    j = events.join(first, user_col).filter(
        F.col(ts_col) >= F.col("_t0"))
    cells = j.select(
        F.col(user_col),
        wk(F.col("_t0")).alias("cohort_week"),
        (wk(F.col(ts_col)) - wk(F.col("_t0"))).alias("week_offset"),
    ).distinct()
    return cells.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users"))


def max_concurrency(events: DataFrame, gap_minutes: float = 30.0,
                    user_col: str = "user_id", ts_col: str = "ts",
                    range_days: int = 2) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning gauge,
    computed as the classic sweep line: every session contributes
    (+1 at start, -1 at end), sorted by time with starts before ends
    at ties (closed intervals), and the running sum's per-day maximum
    is the answer.

    The running sum is a GLOBAL cumsum, which one ORDER BY window
    would plan as a single sequential partition — so this uses the
    same distributed prefix-sum shape as pack_blocks/corpus_shuffle:
    cumsum WITHIN fixed time ranges (``range_days`` buckets of the
    integer microsecond clock — data-independent boundaries), per-range
    totals to a tiny table, a window over only that table, broadcast
    the offsets back.

    Day maxima are CONTINUOUS-TIME exact, not just event-sampled:
    every session additionally emits a zero-delta SENTINEL at each
    midnight it spans (ordered before that instant's real deltas), so
    a day whose peak occurs before its first event — or a quiet day in
    the middle of a long session — still reports the sessions active
    at its start instead of under-reporting or going missing.
    Ties between equal (t, side) rows permute equal-signed deltas
    only, so the daily max is order-invariant.  Output:
    (day, max_concurrent), day = epoch-us // 86400e6."""
    s = sessionize(events, user_col=user_col, ts_col=ts_col,
                   gap_minutes=gap_minutes)
    # NTZ -> timestamp cast is the identity under the session's pinned
    # UTC timezone (same convention as _epoch above / DuckDB epoch_us)
    iv = s.groupBy("session_id").agg(
        F.unix_micros(F.min(ts_col).cast("timestamp")).alias("t0"),
        F.unix_micros(F.max(ts_col).cast("timestamp")).alias("t1"))
    # explode, not union: a union of two selects over iv would plan the
    # whole sessionize+agg subtree TWICE (Spark duplicates shared
    # subtrees across union branches); the explode emits both deltas
    # AND the spanned-midnight sentinels from one pass.  Sentinel
    # tie=-1 orders it before that instant's real deltas, so it reads
    # the concurrency carried INTO the day (a session ending exactly
    # at midnight still counts for the new day — closed intervals).
    day_us = 86400000000
    sent_t = "struct<t:bigint,d:int,tie:int>"
    sentinels = F.when(
        F.floor(F.col("t1") / day_us) > F.floor(F.col("t0") / day_us),
        F.expr(f"transform(sequence(floor(t0 / {day_us}) + 1, "
               f"floor(t1 / {day_us})), "
               f"b -> struct(CAST(b * {day_us} AS BIGINT) AS t, "
               f"0 AS d, -1 AS tie))")
    ).otherwise(F.expr(f"CAST(array() AS array<{sent_t}>)"))
    deltas = iv.select(F.explode(F.concat(F.array(
        F.struct(F.col("t0").alias("t"), F.lit(1).alias("d"),
                 F.lit(0).alias("tie")),
        F.struct(F.col("t1").alias("t"), F.lit(-1).alias("d"),
                 F.lit(1).alias("tie"))), sentinels)).alias("x")) \
        .select("x.*")
    span_us = 86400000000 * range_days
    deltas = deltas.withColumn("rng", F.floor(F.col("t") / span_us))
    w_in = (Window.partitionBy("rng").orderBy("t", "tie")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = deltas.withColumn("cum", F.sum("d").over(w_in))
    tot = local.groupBy("rng").agg(F.sum("d").alias("rtot"))
    w_rng = (Window.orderBy("rng")
             .rowsBetween(Window.unboundedPreceding, -1))
    off = tot.withColumn(
        "roff", F.coalesce(F.sum("rtot").over(w_rng), F.lit(0)))
    j = local.join(F.broadcast(off.select("rng", "roff")), "rng")
    return (j.select(
        F.floor(F.col("t") / F.lit(86400000000)).alias("day"),
        (F.col("roff") + F.col("cum")).alias("conc"))
        .groupBy("day").agg(F.max("conc").cast("long")
                            .alias("max_concurrent")))
