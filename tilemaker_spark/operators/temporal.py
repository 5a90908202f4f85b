"""Temporal joins Spark lacks natively: as-of join and interval join.

Two classic time-series operators (the brief's "as-of join, range
join" gap list), both expressed as compositions of existing DataFrame
ops — no UDF, no driver-side loop:

* :func:`asof_join` — for every left row, attach the LATEST right row
  of the same key whose timestamp is <= the left timestamp (backward,
  inclusive: the semantics of DuckDB/QuestDB ``ASOF JOIN`` and pandas
  ``merge_asof``).  Implemented as a union-merge: tag sides, union,
  one window over (key, ts, side) carrying the last right payload
  forward.  ONE shuffle on the key — strictly cheaper than the naive
  range-join + per-row max, and never quadratic.
* :func:`interval_join` — match point events to every interval
  [start, end] (inclusive) that contains them, optionally key-scoped.
  Implemented by time-binning: points get one bin, intervals explode
  to the bins they cover (``sequence``), equi-join on (key, bin), then
  the exact containment filter.  Because a point owns exactly one bin,
  each (point, interval) pair is produced at most once — no distinct
  needed.

Scale notes (100 TB): the as-of join is one Exchange on the join key;
per-key timelines are processed by a single window pass (linear, sorted
merge — the same plan shape as sessionize).  The interval join's
explode factor is ceil(len/bin)+1 per interval: pick ``bin_seconds``
near the typical interval length so the blow-up is O(1); the join is a
plain equi-join, so AQE skew handling and salting (operators/skew.py)
apply to hot bins unchanged.  Neither operator materializes a cross
product at any point.

Reference parity: tilemaker itself has no temporal operators (its
"time" axis is zoom); these extend the engine for the training-data
pipeline tier (event attribution, campaign/interval analytics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sessions import _epoch

_SIDE = "__asof_side"
_OTS = "__asof_ts"


def asof_join(left: DataFrame, right: DataFrame,
              keys: list[str] | str = "user_id",
              left_ts: str = "ts", right_ts: str = "ts",
              tolerance_seconds: float | None = None,
              matched_ts_col: str = "matched_ts") -> DataFrame:
    """Backward inclusive as-of join (left outer).

    Every ``left`` row gains the payload columns of the latest ``right``
    row with the same key and ``right_ts <= left_ts`` (ties at equal
    timestamps DO match, like DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``
    and pandas ``merge_asof(allow_exact_matches=True)``), plus
    ``matched_ts_col`` = that right row's timestamp.  Rows with no prior
    right row keep NULLs (left-outer semantics).

    ``right`` must be unique per (key, right_ts) — pre-aggregate ties
    first, as any as-of engine requires; payload columns must not
    collide with left column names.  With ``tolerance_seconds`` the
    match is kept only when ``left_ts - matched_ts <= tolerance``.

    Plan: union both sides -> ONE Exchange on the key -> a single
    window pass ordered by (ts, side) where the right side sorts first
    at equal timestamps (inclusive semantics).  The right payload rides
    in a struct so a NULL payload FIELD is still a match (``last`` with
    ``ignorenulls`` skips only rows from the left side, whose struct is
    NULL by construction).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in right.columns if c not in keys + [right_ts]]
    if not payload:
        raise ValueError("right side has no payload columns")
    collide = set(payload) & set(left.columns)
    if collide:
        raise ValueError(f"right payload collides with left: {collide}")

    r = right.select(
        *keys,
        F.col(right_ts).alias(_OTS),
        F.lit(0).alias(_SIDE),
        F.struct(*[F.col(c) for c in payload]).alias("__asof_payload"))
    l = left.select(
        "*",
        F.col(left_ts).alias(_OTS),
        F.lit(1).alias(_SIDE))
    u = l.unionByName(r, allowMissingColumns=True)

    w = (Window.partitionBy(*keys).orderBy(_OTS, _SIDE)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = F.last("__asof_payload", ignorenulls=True).over(w)
    mts = F.last(F.when(F.col(_SIDE) == 0, F.col(_OTS)),
                 ignorenulls=True).over(w)

    out = (u.withColumn("__asof_carried", carried)
           .withColumn(matched_ts_col, mts)
           .filter(F.col(_SIDE) == 1))
    if tolerance_seconds is not None:
        within = ((_epoch(F.col(_OTS)) - _epoch(F.col(matched_ts_col)))
                  <= F.lit(float(tolerance_seconds)))
        out = (out.withColumn(
            "__asof_carried",
            F.when(within, F.col("__asof_carried")))
            .withColumn(matched_ts_col,
                        F.when(within, F.col(matched_ts_col))))
    for c in payload:
        out = out.withColumn(c, F.col("__asof_carried")[c])
    return out.drop("__asof_carried", "__asof_payload", _OTS, _SIDE)


def interval_join(points: DataFrame, intervals: DataFrame,
                  point_ts: str = "ts",
                  start_col: str = "iv_start", end_col: str = "iv_end",
                  keys: list[str] | None = None,
                  bin_seconds: int = 86400) -> DataFrame:
    """Inner join of point events to every interval containing them.

    Containment is inclusive on both ends: ``start <= ts <= end``.
    ``keys`` (optional) are equality-matched column names present on
    BOTH sides.  Output: all interval columns + all point columns
    (names must not collide across the two inputs).

    Plan: points -> one bin key; intervals -> ``explode(sequence(...))``
    over their covered bins; equi-join on (keys..., bin); exact
    containment filter.  A point has exactly one bin, so no pair is
    duplicated and no ``distinct`` is needed.
    """
    keys = list(keys or [])
    collide = (set(points.columns) & set(intervals.columns)) - set(keys)
    if collide:
        raise ValueError(f"column collision outside keys: {collide}")
    binexp = float(bin_seconds)

    p = points.withColumn("__bin",
                          F.floor(_epoch(F.col(point_ts)) / binexp))
    iv = (intervals
          .withColumn("__bin", F.explode(F.sequence(
              F.floor(_epoch(F.col(start_col)) / binexp),
              F.floor(_epoch(F.col(end_col)) / binexp))))
          .withColumnRenamed(start_col, "__ivs")
          .withColumnRenamed(end_col, "__ive"))
    # drop the duplicate key columns from the point side post-join
    cond = [p["__bin"] == iv["__bin"]] + [p[k] == iv[k] for k in keys]
    j = (p.join(iv, cond, "inner")
         .filter((F.col(point_ts) >= F.col("__ivs"))
                 & (F.col(point_ts) <= F.col("__ive"))))
    out = j.drop(p["__bin"]).drop(iv["__bin"])
    for k in keys:
        out = out.drop(iv[k])
    return (out.withColumnRenamed("__ivs", start_col)
            .withColumnRenamed("__ive", end_col))


def scd2_history(df: DataFrame, key_col: str = "user_id",
                 attr_col: str = "event_type", ts_col: str = "ts",
                 tiebreak_col: str = "event_id") -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log
    (the Kimball SCD2 build every warehouse load runs).

    Input: an append-only log where each row sets ``attr_col`` for
    ``key_col`` at ``ts_col``.  Output: one row per VERSION — runs of
    consecutive identical values collapse (the no-op-change rule), and
    each version carries its validity interval:

      (key, attr, valid_from_us, valid_to_us, version, is_current)

    ``valid_from_us``/``valid_to_us`` are epoch microseconds (bigint,
    cross-engine exact); ``valid_to_us`` is NULL on the current
    version (the half-open convention: a version is live on
    [valid_from, valid_to)).  Row order within a key is
    (ts, tiebreak) so same-timestamp changes resolve deterministically.

    Plan (ONE exchange): both windows partition on ``key_col``, so
    Catalyst plans a single shuffle; the change-point filter runs
    between the lag pass and the lead/row_number pass as a no-shuffle
    re-sort of the same partitioning.  At 10^12 rows this is the same
    single-shuffle shape as sessionize — per-key timelines stream
    through each window sorted once.

    Reference parity: tilemaker has no temporal dimension; this is a
    training-data/lakehouse-tier operator (user-metadata history for
    point-in-time-correct joins against the event log).
    """
    w1 = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    changes = (
        df.select(
            F.col(key_col), F.col(attr_col),
            t_us.alias("valid_from_us"), F.col(tiebreak_col).alias("__tb"),
            F.lag(attr_col).over(w1).alias("__prev"))
        .where(F.col("__prev").isNull()
               | (F.col("__prev") != F.col(attr_col))))
    w2 = Window.partitionBy(key_col).orderBy("valid_from_us", "__tb")
    return (
        changes
        .select(
            key_col, attr_col, "valid_from_us",
            F.lead("valid_from_us").over(w2).alias("valid_to_us"),
            F.row_number().over(w2).alias("version"))
        .withColumn("is_current", F.col("valid_to_us").isNull()))
