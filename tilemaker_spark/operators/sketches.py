"""Mergeable distinct-count sketches (KMV / k-minimum-values).

At 10^12 rows an exact ``COUNT(DISTINCT key)`` per group shuffles every
distinct (group, key) pair; the classical KMV bottom-k sketch
(Bar-Yossef et al., RANDOM'02; the theta-sketch family) shuffles at most
``k`` values per (group, partition) instead: hash every key to a uniform
integer, keep the ``k`` smallest DISTINCT hashes per group, and estimate

    distinct ~= (k - 1) * H / h_k

where ``h_k`` is the k-th smallest hash and ``H`` the hash-space size.
The sketch is a bounded SET, so it merges associatively: the k smallest
of a union are the k smallest of the per-partition k-smallest — exactly
the map-side-combine shape Spark's partial aggregation wants.

Everything here is integer-exact and engine-neutral so a DuckDB oracle
reproduces the ESTIMATE bit-for-bit, not just approximately:

* hash = first 13 hex digits of md5(key || ':' || salt) read as int64
  (52 bits — both engines parse identical md5 hex; 52 bits keeps the
  estimator numerator ``(k-1) * 2^52`` inside int64 so the final
  division is pure integer floor division, no doubles anywhere).
* estimate = ``(k-1) * 2^52 div h_k`` when the group saw >= k distinct
  hashes, else the sketch holds the whole distinct set and the count is
  exact.

Plan shape (the 100 TB story): one ``mapInPandas`` pass folds each
input partition into per-group bounded sketches (at most k hashes per
group PER PARTITION leave the map side — the manual map-side combine),
then one shuffle moves only ``<= k * n_partitions`` rows per group to a
final ``groupBy`` merge.  Raw rows are never shuffled and no distinct
materializes.  At 52-bit hashes, collision error is ~n^2/2^53 —
negligible below ~10^8 distinct per group; widen to two int64 lanes for
more (the estimator then needs decimal(38), noted, not built).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_BITS = 52
HASH_SPACE = 1 << HASH_BITS  # 4503599627370496


def kmv_hash_col(key_col: str, salt: int) -> F.Column:
    """52-bit uniform hash of the key, identical in Spark and DuckDB:
    ``conv(substr(md5(key || ':' || salt), 1, 13), 16, 10)``."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"),
                           F.lit(f":{salt}"))), 1, 13),
        16, 10).cast("long")


def kmv_hash_sql(key_expr: str, salt: int) -> str:
    """DuckDB twin of :func:`kmv_hash_col` (CAST('0x'||hex AS BIGINT))."""
    return (f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) "
            f"|| ':{salt}'), 1, 13)) AS BIGINT)")


def kmv_distinct(df: DataFrame, key_col: str, group_cols: list[str],
                 k: int = 64, salt: int = 1) -> DataFrame:
    """Per-group approximate distinct count of ``key_col`` via a KMV
    bottom-k sketch, with a deterministic integer-exact estimate.

    Returns one row per group: the group columns plus
    ``est_distinct`` (bigint; exact when the group's distinct count is
    below k) and ``sketch_size`` (= min(distinct, k), the number of
    hashes the final sketch holds).

    NULL keys are excluded (COUNT(DISTINCT) semantics, mirrored in the
    oracle) — a null would hash to NULL and become float NaN inside the
    pandas partial, corrupting the k-smallest trim.  NULL GROUP values
    are kept (dropna=False below), matching SQL GROUP BY.
    """
    if not 2 <= k <= 2048:
        # (k-1) * 2^52 must stay inside int64 for the pure-integer
        # estimator: 2047 * 2^52 < 2^63, 4095 * 2^52 overflows (the
        # literal would silently become a decimal and the div
        # semantics — and the DuckDB twin — diverge)
        raise ValueError(f"k={k} out of range [2, 2048]")
    hashed = df.where(F.col(key_col).isNotNull()).select(
        *[F.col(c) for c in group_cols],
        kmv_hash_col(key_col, salt).alias("__h"))

    gcols = list(group_cols)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in hashed.schema if f.name in gcols
    ) + ", __h long"

    def partial_sketch(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        # Fold the WHOLE partition (all Arrow batches) into one bounded
        # sketch per group before emitting anything: at most k hashes
        # per (group, partition) reach the shuffle.
        acc: dict[tuple, set] = {}
        for pdf in batches:
            for key, sub in pdf.groupby(gcols, sort=False, dropna=False):
                if not isinstance(key, tuple):
                    key = (key,)
                s = acc.setdefault(key, set())
                s.update(sub["__h"].tolist())
                if len(s) > k:
                    # keep the k smallest; bounded regardless of input
                    acc[key] = set(sorted(s)[:k])
        rows = [(*key, h) for key, s in acc.items() for h in s]
        cols = gcols + ["__h"]
        yield pd.DataFrame(rows, columns=cols)

    partials = hashed.mapInPandas(partial_sketch, out_schema)

    # Final merge: k smallest distinct hashes per group.  Input is
    # <= k * n_partitions rows per group, so the sort_array/collect_set
    # here is over a BOUNDED set, not the data.
    merged = (partials.groupBy(*gcols)
              .agg(F.slice(F.sort_array(F.collect_set("__h")),
                           1, k).alias("__mins")))
    n = F.size("__mins")
    # try_element_at: NULL (not an ANSI error) when the sketch holds
    # fewer than k hashes — that branch is covered by the WHEN arm
    est = F.when(n < k, n.cast("long")).otherwise(
        F.expr(f"{(k - 1) * HASH_SPACE} div try_element_at(__mins, {k})"))
    return merged.select(
        *gcols,
        est.alias("est_distinct"),
        F.least(n, F.lit(k)).cast("int").alias("sketch_size"))


def kmv_distinct_oracle_sql(table: str, key_expr: str, group_cols: str,
                            k: int = 64, salt: int = 1) -> str:
    """DuckDB twin: exact same sketch from a global window (the k-min of
    a union is partitioning-independent, so the one-pass SQL and the
    distributed merge agree on every bit)."""
    h = kmv_hash_sql(key_expr, salt)
    return f"""
WITH h AS (
  SELECT DISTINCT {group_cols}, {h} AS h FROM {table}
  WHERE {key_expr} IS NOT NULL
), r AS (
  SELECT {group_cols}, h,
         row_number() OVER (PARTITION BY {group_cols} ORDER BY h) AS rk,
         count(*) OVER (PARTITION BY {group_cols}) AS nd
  FROM h
)
SELECT {group_cols},
       CASE WHEN max(nd) < {k} THEN max(nd)
            ELSE {(k - 1) * HASH_SPACE}
                 // max(CASE WHEN rk = {k} THEN h END)
       END AS est_distinct,
       CAST(least(max(nd), {k}) AS INTEGER) AS sketch_size
FROM r
GROUP BY {group_cols}
"""


def heavy_hitters(df: DataFrame, key_col: str, share_ppm: int,
                  k: int | None = None) -> DataFrame:
    """EXACT frequent-items: every key whose count clears
    ``share_ppm`` parts-per-million of the table, with its exact count
    — without ever shuffling the full distinct-key space.

    The classical lossless two-pass (Misra-Gries '82 candidates +
    exact recount):

    1. One ``mapInPandas`` pass runs a batched Misra-Gries summary with
       ``k = ceil(1e6 / share_ppm)`` counters per partition.  MG's
       guarantee: a key can only lose counter mass when >= k other
       counter units drop with it, so any key with partition count
       > n_p / (k+1) survives its partition; a GLOBAL heavy hitter
       (count >= share_ppm * n / 1e6 >= n_p * share_ppm / 1e6 summed)
       exceeds that bar in at least one partition by pigeonhole —
       candidates are a SUPERSET of the answer, never a miss.
    2. The exact pass recounts ONLY candidate keys: a broadcast
       semi-join keeps matching rows, the groupBy's map-side combine
       collapses them to <= |candidates| rows per partition, and the
       exact integer threshold ``n * 1_000_000 >= total * share_ppm``
       (pure int64, no ceil, no floats) filters.

    At 10^12 rows with 10^10 distinct keys, a plain
    ``groupBy(key).count()`` shuffles 10^10 aggregation keys; this
    shuffles <= k rows per partition in pass 1 and <= |candidates|
    per partition in pass 2.  Output is EXACT and partitioning-
    independent (the oracle is a plain GROUP BY ... HAVING), unlike
    approximate MG counts whose values depend on arrival order.
    """
    if not 1 <= share_ppm <= 1_000_000:
        raise ValueError(f"share_ppm={share_ppm} out of range")
    if k is None:
        k = -(-1_000_000 // share_ppm)  # ceil(1e6 / ppm)

    import numpy as np

    # NULL keys are excluded on BOTH sides (here and in the oracle's
    # WHERE): pandas value_counts drops NaN and an equi-semi-join can
    # never recount a null, so "frequency of a key" is defined over
    # present keys — but the DENOMINATOR stays the full table count,
    # so a key's share is unaffected by how many nulls exist
    keyed = df.where(F.col(key_col).isNotNull()) \
        .select(F.col(key_col).alias("__k"))

    def mg_candidates(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
        d: dict = {}
        for pdf in batches:
            for key, cnt in pdf["__k"].value_counts().items():
                d[key] = d.get(key, 0) + int(cnt)
            if len(d) > k:
                vals = np.sort(np.fromiter(d.values(), dtype="int64"))
                # (len-k)-th smallest: subtracting it everywhere drops
                # >= len-k entries, keeping <= k — the batched MG
                # decrement (every unit a survivor loses is matched by
                # >= k other counters losing the same unit)
                c = int(vals[len(d) - k - 1])
                d = {kk: v - c for kk, v in d.items() if v > c}
        yield pd.DataFrame({"__k": list(d.keys())})

    cands = (keyed.mapInPandas(
        mg_candidates, f"__k {df.schema[key_col].dataType.simpleString()}")
        .distinct())

    total = df.agg(F.count(F.lit(1)).alias("__total"))
    counts = (keyed.join(F.broadcast(cands), "__k", "left_semi")
              .groupBy("__k").agg(F.count(F.lit(1)).alias("n")))
    return (counts.join(F.broadcast(total))
            .where(F.col("n") * F.lit(1_000_000)
                   >= F.col("__total") * F.lit(share_ppm))
            .select(F.col("__k").alias(key_col), "n"))


def heavy_hitters_oracle_sql(source: str, key_expr: str,
                             share_ppm: int, out_col: str = "key") -> str:
    """DuckDB twin: the answer heavy_hitters is exact against — a plain
    GROUP BY with the identical integer threshold."""
    return f"""
SELECT {key_expr} AS {out_col}, count(*) AS n
FROM {source}
WHERE {key_expr} IS NOT NULL
GROUP BY 1
HAVING count(*) * 1000000 >= (SELECT count(*) FROM {source}) * {share_ppm}
"""


def kmv_set_ops(df: DataFrame, key_col: str, tag_col: str,
                tag_a: str, tag_b: str, k: int = 64,
                salt: int = 1) -> DataFrame:
    """Theta-sketch set algebra over two keyed populations (the
    DataSketches theta-intersection idea on the KMV bottom-k sketch):
    estimated distinct |A|, |B|, |A union B|, |A intersect B| — plus the
    exact integer numerator/denominator of the sketched Jaccard — from
    ONE pass over the data, never materializing either distinct set.

    theta = min over the two sketches of (h_k if the sketch is full
    else the full hash space); every hash below theta is a uniform
    distinct-key sample of BOTH populations, so

        est(|X|) = |{h in sketch_X : h < theta}| * SPACE div theta

    in pure int64: the UNION count can reach 2(k-1) (two full disjoint
    sketches), so k <= 1024 keeps 2(k-1) * 2^52 inside int64 — a
    stricter cap than kmv_distinct's 2048, whose numerator is only
    (k-1) * 2^52.  NULL keys are excluded (COUNT DISTINCT semantics,
    same as kmv_distinct).  When both populations hold < k distinct
    keys the sketches ARE the sets, theta = SPACE, and every output is
    EXACT — the estimator degrades to truth, which the oracle twin
    exploits.

    Plan: one tagged hash projection, one bounded groupBy (<= k rows
    per (tag, partition) reach it via the same map-side fold as
    kmv_distinct... here collect_set over the partials suffices since
    the final merge input is already bounded), then a 1-row x 1-row
    join and pure Catalyst array algebra.  Raw rows never shuffle.
    """
    if not 2 <= k <= 1024:
        # union count <= 2(k-1); 2046 * 2^52 < 2^63 at k=1024, k=1025
        # would let est_union overflow int64
        raise ValueError(f"k={k} out of range [2, 1024]")
    tagged = (df.where(F.col(tag_col).isin([tag_a, tag_b])
                       & F.col(key_col).isNotNull())
              .select(F.col(tag_col).alias("__t"),
                      kmv_hash_col(key_col, salt).alias("__h")))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[str, set] = {}
        for pdf in batches:
            for tag, sub in pdf.groupby("__t", sort=False):
                s = acc.setdefault(tag, set())
                s.update(sub["__h"].tolist())
                if len(s) > k:
                    acc[tag] = set(sorted(s)[:k])
        yield pd.DataFrame([(t, h) for t, s in acc.items() for h in s],
                           columns=["__t", "__h"])

    partials = tagged.mapInPandas(partial, "__t string, __h long")
    sk = (partials.groupBy("__t")
          .agg(F.slice(F.sort_array(F.collect_set("__h")), 1, k)
               .alias("mins")))

    # pivot the <= 2-row sketch table in ONE agg — filtering it twice
    # and cross-joining would duplicate the whole sketch subplan (two
    # scans of the data; caught by the plan audit)
    empty = F.array().cast("array<long>")
    j = sk.groupBy().agg(
        F.coalesce(F.max(F.when(F.col("__t") == tag_a, F.col("mins"))),
                   empty).alias("ma"),
        F.coalesce(F.max(F.when(F.col("__t") == tag_b, F.col("mins"))),
                   empty).alias("mb"))

    def theta(m):
        return F.when(F.size(m) < k, F.lit(HASH_SPACE)) \
            .otherwise(F.element_at(m, k))

    th = F.least(theta(F.col("ma")), theta(F.col("mb")))

    def below(m):
        return F.filter(m, lambda h: h < th)

    counted = j.select(
        F.size(below(F.col("ma"))).cast("long").alias("ca"),
        F.size(below(F.col("mb"))).cast("long").alias("cb"),
        F.size(below(F.array_intersect("ma", "mb")))
        .cast("long").alias("ci"),
        F.size(below(F.array_union("ma", "mb")))
        .cast("long").alias("cu"),
        th.cast("long").alias("th"))

    def est(c):
        # pure int64 floor division — a float-mediated divide would
        # lose exactness above 2^53
        return F.expr(f"{c} * {HASH_SPACE} div th")

    return counted.select(
        est("ca").alias("est_a"), est("cb").alias("est_b"),
        est("cu").alias("est_union"), est("ci").alias("est_intersect"),
        F.col("ci").cast("int").alias("jaccard_num"),
        F.col("cu").cast("int").alias("jaccard_den"))


def grouped_topk(df: DataFrame, group_cols: list[str], order_col: str,
                 k: int, tie_col: str, ascending: bool = False
                 ) -> DataFrame:
    """EXACT top-k rows per group with a BOUNDED shuffle — the
    per-group analogue of Spark's global TakeOrderedAndProject, which
    has no built-in grouped form (a window row_number shuffles and
    sorts EVERY row of every group; at 10^12 rows that is the whole
    table through one exchange).

    Pass 1 keeps each partition's local top-k per group (a row in the
    global top-k is beaten by < k rows globally, hence by < k rows in
    its own partition, so it survives its partition's cut — candidates
    are a PROVABLE superset).  Only <= k rows per (group, partition)
    shuffle; the final window ranks the bounded candidate set.  Ties
    break on ``tie_col`` ascending, making the result deterministic
    and partitioning-independent (and the oracle a plain ROW_NUMBER).

    NULL handling: NULL group values form their own group (pandas
    dropna=False, matching SQL GROUP BY); NULL order values sort where
    Spark's window puts them (nulls first ascending, nulls last
    descending — na_position mirrors it below so the local cut and the
    global window agree).  ``tie_col`` must be non-null — a null
    tie-break is ambiguous by definition.

    Adds a ``rk`` column (1-based rank within the group).
    """
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema)
    gcols = list(group_cols)
    colnames = [f.name for f in df.schema]

    def local_topk(batches: Iterator[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            acc = pdf if acc is None else pd.concat((acc, pdf))
            # fold each Arrow batch into the running per-group top-k so
            # partition-local state stays <= k rows per group
            acc = (acc.sort_values(
                [order_col, tie_col], ascending=[ascending, True],
                na_position="first" if ascending else "last")
                .groupby(gcols, sort=False, dropna=False).head(k))
        yield acc if acc is not None else pd.DataFrame(
            {c: [] for c in colnames})

    cands = df.mapInPandas(local_topk, schema)
    order = (F.col(order_col).asc() if ascending
             else F.col(order_col).desc())
    w = Window.partitionBy(*gcols).orderBy(order, F.col(tie_col).asc())
    return (cands.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))


def selection_quantiles(df: DataFrame, col: str,
                        q_ppms: tuple[int, ...] = (500000, 900000, 990000),
                        n_buckets: int = 256,
                        max_iters: int = 16) -> DataFrame:
    """EXACT global quantiles of an integer column by distributed
    selection (the classic histogram-refinement median algorithm),
    with ZERO row shuffles: Spark's own exact path (a global sort or a
    single-partition window) moves every row through one exchange;
    ``approx_percentile`` avoids that but is approximate.  Selection
    gets exactness AND boundedness: each pass scans the data once and
    aggregates a <= ``n_buckets``-row histogram of the surviving value
    range (map-side combined — n_buckets rows per partition reach the
    driver), then narrows the range to the bucket containing the
    target rank.  Integer ranges converge in ceil(log_B(range))
    passes — 2-3 scans for any realistic column, each embarrassingly
    parallel.  That is the honest 10^12-row trade: a couple of cheap
    rescans instead of a full-table shuffle.

    Ranks use the integer convention rank = q_ppm * (n-1) div 1e6
    (0-indexed order statistic), so the result is deterministic and
    the oracle is a plain ROW_NUMBER lookup.  Quantile targets are
    parts-per-million INTS — no float q ever touches the rank math.

    Returns a (driver-assembled, |q_ppms|-row) DataFrame
    (q_ppm int, value long).  The per-pass ``.collect()`` is the
    n_buckets-row histogram — bounded by construction.
    """
    if not q_ppms or any(not 0 <= q <= 1_000_000 for q in q_ppms):
        raise ValueError(f"bad q_ppms {q_ppms}")
    vals = df.select(F.col(col).cast("long").alias("v")).where(
        F.col("v").isNotNull())
    stats = vals.agg(F.count("v"), F.min("v"), F.max("v")).collect()[0]
    n, vmin, vmax = stats[0], stats[1], stats[2]
    if n == 0:
        raise ValueError(f"no non-null rows in {col}")
    # one histogram narrows EVERY pending rank sharing a [lo, hi]
    # range: all quantiles start from [vmin, vmax], so pass 1 is
    # always a single scan, and later passes only fork when quantiles
    # land in different buckets — |q| quantiles cost ~1 + forks scans
    # per level instead of |q| full narrowing chains
    pending = {q: [vmin, vmax, q * (n - 1) // 1_000_000] for q in q_ppms}
    iters = 0
    while any(lo < hi for lo, hi, _ in pending.values()):
        iters += 1
        if iters > max_iters:  # log_B(int64 range) <= 8 at B=256
            raise RuntimeError("selection did not converge")
        ranges: dict[tuple, list] = {}
        for q, (lo, hi, _) in pending.items():
            if lo < hi:
                ranges.setdefault((lo, hi), []).append(q)
        for (lo, hi), qs in ranges.items():
            width = (hi - lo) // n_buckets + 1
            hist = dict(
                vals.where((F.col("v") >= lo) & (F.col("v") <= hi))
                .groupBy(F.expr(f"(v - {lo}) div {width}").alias("b"))
                .count().collect())
            for q in qs:
                r, cum = pending[q][2], 0
                for b in range(n_buckets + 1):
                    c = hist.get(b, 0)
                    if cum + c > r:
                        nlo = lo + b * width
                        pending[q] = [nlo, min(hi, nlo + width - 1),
                                      r - cum]
                        break
                    cum += c
                else:
                    raise RuntimeError("rank outside surviving range")
    out = [(q, pending[q][0]) for q in q_ppms]
    spark = df.sparkSession
    return spark.createDataFrame(out, "q_ppm int, value long")


def selection_quantiles_oracle_sql(source: str, col: str,
                                   q_ppms: tuple[int, ...] = (
                                       500000, 900000, 990000)) -> str:
    """DuckDB twin: the order statistic at rank q*(n-1) div 1e6."""
    qs = ", ".join(f"({q})" for q in q_ppms)
    return f"""
WITH r AS (
  SELECT CAST({col} AS BIGINT) AS v,
         row_number() OVER (ORDER BY CAST({col} AS BIGINT)) - 1 AS rk
  FROM {source} WHERE {col} IS NOT NULL
), n AS (SELECT count(*) AS n FROM r),
q(q_ppm) AS (VALUES {qs})
SELECT CAST(q.q_ppm AS INTEGER) AS q_ppm, r.v AS value
FROM q, n JOIN r ON r.rk = q.q_ppm * (n.n - 1) // 1000000
"""


def _bloom_positions(key: F.Column, m_bits: int, k_hashes: int,
                     salt: int) -> list[F.Column]:
    """k deterministic bit positions of a key — md5-prefix hashes with
    per-probe salts (same engine-neutral trick as kmv_hash_col)."""
    return [
        F.conv(F.substring(
            F.md5(F.concat(key.cast("string"),
                           F.lit(f":{salt}:{i}"))), 1, 13),
            16, 10).cast("long") % m_bits
        for i in range(k_hashes)]


def _bloom_positions_sql(key: str, m_bits: int, k_hashes: int,
                         salt: int) -> list[str]:
    return [
        f"(CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) "
        f"|| ':{salt}:{i}'), 1, 13)) AS BIGINT) % {m_bits})"
        for i in range(k_hashes)]


def bloom_prune(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str, m_bits: int = 1 << 16, k_hashes: int = 3,
                salt: int = 1) -> DataFrame:
    """Bloom-filter semi-join pruning — the runtime-filter optimization
    made an explicit, deterministic operator: when the dim key set is
    too large to broadcast as a hash set (10^8 keys) but the fact table
    is far larger still (10^12 rows), ship a ``m_bits``-bit Bloom
    filter instead and drop non-matching fact rows BEFORE any join
    shuffle.

    Build side: dim keys map to k bit positions, one bit_or rollup per
    64-bit word (<= m_bits/64 rows ever aggregate — map-side combined),
    and the <= m_bits/64-row collect assembles the bitset (bounded by
    construction; 2^20 bits = 16K longs = 128 KB).  Probe side: the
    bitset is a plan LITERAL array<long>, membership is pure Catalyst
    bit math (element_at + shiftleft + AND across the k probes) inside
    whole-stage codegen — ZERO shuffle, ZERO Python, zero rows moved.

    Determinism: positions come from salted md5 prefixes, so the
    surviving set (true matches + the filter's false positives) is a
    pure function of the data — bit-for-bit reproducible across
    engines, which makes even the FALSE POSITIVES oracle-checkable.

    Returns the fact rows that pass the filter (true matches + the
    deterministic false positives).  No false NEGATIVES are possible —
    every true match survives — so the exact join downstream sees a
    strictly smaller input with identical results.
    """
    if m_bits < 64 or m_bits & (m_bits - 1) or m_bits > (1 << 24):
        raise ValueError(
            f"m_bits={m_bits} must be a power of two in [64, 2^24] "
            "(the bitset ships as a plan literal — 2^24 bits = 2 MB; "
            "beyond that use a second bloom level or a join)")
    if not 1 <= k_hashes <= 8:
        raise ValueError(f"k_hashes={k_hashes} out of range")
    pos = _bloom_positions(F.col(dim_key), m_bits, k_hashes, salt)
    # a NULL dim key can never equal any fact key in the downstream
    # join, so excluding it preserves semi-join semantics — and a null
    # would hash to NULL positions and crash the word assembly below
    bits_rows = (dim.where(F.col(dim_key).isNotNull())
                 .select(F.explode(F.array(*pos)).alias("p"))
                 .groupBy((F.col("p") / 64).cast("long").alias("w"))
                 .agg(F.bit_or(F.call_function(
                     "shiftleft", F.lit(1).cast("long"),
                     (F.col("p") % 64).cast("int"))).alias("bits"))
                 .collect())
    words = [0] * (m_bits // 64)
    for r in bits_rows:
        words[r["w"]] = r["bits"]
    bitset = F.lit(words)  # literal array<long>, 128 KB at 2^20 bits

    probe = _bloom_positions(F.col(fact_key), m_bits, k_hashes, salt)
    hit = None
    for p in probe:
        one = (F.element_at(bitset, (p / 64).cast("int") + 1)
               .bitwiseAND(F.call_function(
                   "shiftleft", F.lit(1).cast("long"),
                   (p % 64).cast("int"))) != 0)
        hit = one if hit is None else (hit & one)
    return fact.where(hit)


def cm_estimate(df: DataFrame, key_col: str, probes: DataFrame,
                width: int = 1 << 12, depth: int = 4,
                salt: int = 1) -> DataFrame:
    """Count-Min frequency estimates (Cormode & Muthukrishnan '05) for
    a set of probe keys, with the guarantee columns the paper promises:
    ``est >= true`` always, ``est - true <= 2n/width`` w.h.p.

    The sketch is a depth x width counter grid: every row increments
    one counter per depth level (position = salted md5 hash mod width);
    an estimate is the MIN over its depth counters.  The build is ONE
    groupBy over (level, bucket) — at most depth*width rows exist, the
    shuffle is map-side combined to that bound, raw keys never move.
    Probes join the (bounded, broadcastable) counter table.

    Like every sketch in this module, positions are salted md5
    prefixes, so the ESTIMATES are pure functions of the data and the
    DuckDB oracle reproduces them bit-for-bit — overestimates
    included.  Complements heavy_hitters (exact, but only for keys
    above a share threshold): CM answers point frequency queries for
    ANY key in bounded space, at the price of one-sided error.
    """
    if width < 2 or depth < 1 or depth > 8:
        raise ValueError(f"bad width={width}/depth={depth}")
    lvl = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("l")
    keyed = df.select(F.col(key_col).alias("__k")).select("__k", lvl)
    pos = F.conv(F.substring(
        F.md5(F.concat(F.col("__k").cast("string"), F.lit(f":{salt}:"),
                       F.col("l").cast("string"))), 1, 13),
        16, 10).cast("long") % width
    counters = (keyed.select("l", pos.alias("b"))
                .groupBy("l", "b").agg(F.count(F.lit(1)).alias("c")))

    plvl = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("l")
    p = probes.select(F.col(key_col).alias("__k")).select("__k", plvl)
    ppos = F.conv(F.substring(
        F.md5(F.concat(F.col("__k").cast("string"), F.lit(f":{salt}:"),
                       F.col("l").cast("string"))), 1, 13),
        16, 10).cast("long") % width
    joined = (p.select("__k", "l", ppos.alias("b"))
              .join(F.broadcast(counters), ["l", "b"], "left")
              .fillna(0, subset=["c"]))
    return (joined.groupBy("__k")
            .agg(F.min("c").alias("est"))
            .select(F.col("__k").alias(key_col), F.col("est")))


def analyze_table(df: DataFrame, cols: list[str] | None = None,
                  k: int = 256, salt: int = 1) -> DataFrame:
    """ANALYZE-style per-column statistics in ONE pass: row count,
    null count, and a KMV distinct-count estimate per column — the
    stats a cost-based optimizer (or a human sizing a join) needs,
    without one COUNT(DISTINCT) shuffle per column.

    Plan: every column's (hash, null) pair is computed in the same
    projection, the per-column sketches fold through ONE mapInPandas
    pass + ONE bounded merge shuffle (<= k hashes per (column,
    partition)), exactly the kmv_distinct shape but column-parallel.
    All-integer output, so the estimates are cross-engine exact.
    """
    cols = list(cols or df.columns)
    if not cols:
        raise ValueError("no columns to analyze")
    # WIDE format: one JVM-hashed column per analyzed column, same row
    # count — a column-exploded long format would push n_cols x rows
    # through Arrow (x16 the I/O at a 16-column table) for no benefit
    hashed = df.select(*[
        F.when(F.col(c).isNull(), F.lit(None)).otherwise(
            kmv_hash_col(c, salt)).alias(f"__h{i}")
        for i, c in enumerate(cols)])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mins: dict[str, set] = {}
        n: dict[str, int] = {}
        nulls: dict[str, int] = {}
        for pdf in batches:
            for i, c in enumerate(cols):
                col = pdf[f"__h{i}"]
                n[c] = n.get(c, 0) + len(col)
                isnull = col.isna()
                nulls[c] = nulls.get(c, 0) + int(isnull.sum())
                s = mins.setdefault(c, set())
                s.update(int(v) for v in col[~isnull])
                if len(s) > k:
                    mins[c] = set(sorted(s)[:k])
        rows = [(c, int(h), 0, 0) for c, s in mins.items() for h in s]
        rows += [(c, None, n.get(c, 0), nulls.get(c, 0)) for c in n]
        yield pd.DataFrame(rows, columns=["col", "h", "n", "nulls"])

    partials = hashed.mapInPandas(
        partial, "col string, h long, n long, nulls long")
    merged = (partials.groupBy("col").agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("mins"),
        F.sum("n").alias("n_rows"),
        F.sum("nulls").alias("n_nulls")))
    nn = F.size("mins")
    est = F.when(nn < k, nn.cast("long")).otherwise(
        F.expr(f"{(k - 1) * HASH_SPACE} div try_element_at(mins, {k})"))
    return merged.select(
        F.col("col").alias("column"), "n_rows", "n_nulls",
        est.alias("ndv_est"))


def analyze_table_oracle_sql(table: str, cols: list[str],
                             k: int = 256, salt: int = 1) -> str:
    """DuckDB twin of :func:`analyze_table`: per column, the identical
    KMV estimate from a window k-min, plus exact row/null counts."""
    parts = []
    for c in cols:
        h = kmv_hash_sql(c, salt)
        parts.append(f"""(
WITH hh AS (
  SELECT DISTINCT {h} AS h FROM {table} WHERE {c} IS NOT NULL
), r AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rk,
         count(*) OVER () AS nd
  FROM hh
), cnts AS (
  SELECT count(*) AS n_rows,
         count(*) FILTER ({c} IS NULL) AS n_nulls
  FROM {table}
)
SELECT '{c}' AS "column", cnts.n_rows, cnts.n_nulls,
       CASE WHEN coalesce(max(nd), 0) < {k} THEN coalesce(max(nd), 0)
            ELSE {(k - 1) * HASH_SPACE}
                 // max(CASE WHEN rk = {k} THEN h END)
       END AS ndv_est
FROM cnts LEFT JOIN r ON true
GROUP BY cnts.n_rows, cnts.n_nulls
)""")
    return "\nUNION ALL\n".join(parts)
