"""Explicit skew handling: data-driven per-key salting plans.

The reference engine shards hot z6 tiles implicitly by running clusters
of tiles per thread (`/root/reference/src/tile_worker.cpp:553-584` work
queue); a shuffle engine needs the equivalent decision made explicit —
the BASELINE north rule calls out "partitioning / shuffle / skew handled
explicitly", and the PIP cell join (operators/spatial_join.py) already
accepts a FIXED ``n_salts``.  This module makes the salt count
data-driven per key: one cheap counting pass emits a tiny (key,
n_salts) plan, small enough to broadcast back to the rows — so a
10^12-row table pays one map-side combinable count-aggregate, never a
global sort or a histogram collected to one process.

Integer-exact by construction (ceil via (n + t - 1) div t, no floats),
so the plan itself is oracle-checkable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_plan(df: DataFrame, key_col: str, target_rows: int) -> DataFrame:
    """One row per distinct key: (key, n_rows, n_salts) with
    ``n_salts = ceil(n_rows / target_rows)`` computed in exact integer
    arithmetic.  Keys at or under ``target_rows`` get n_salts = 1 (no
    extra fan-out).  ONE shuffle with map-side partial aggregation; the
    output is #distinct-keys rows — tiny relative to the input, which
    is what makes it broadcastable back."""
    t = int(target_rows)
    if t <= 0:
        raise ValueError(f"target_rows must be positive, got {t}")
    n = F.count(F.lit(1))
    return (df.groupBy(key_col)
            .agg(n.alias("n_rows"))
            .select(key_col, "n_rows",
                    # integer div, not /: Spark's Divide on longs is a
                    # Double, exact only below ~2^53 — `div` keeps the
                    # ceil pure int64 as the module contract promises
                    F.expr(f"(n_rows + {t - 1}) div {t}")
                    .alias("n_salts")))
