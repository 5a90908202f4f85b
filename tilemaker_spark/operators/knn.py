"""kNN join: for each query point, the k nearest candidate points.

Absent in the reference engine; a graft requirement from BASELINE.json
(kNN image-to-feature matching per cell).  Two strategies:

* **broadcast** (small query set): queries are broadcast as a plain array
  and every candidate partition computes distances vectorized; a window
  ``row_number`` keeps the top-k per query.  Exact, no approximation,
  one shuffle (on query_id).  This is also the SQL-expressible oracle
  semantics (cross join + window).

* **cell** (both sides large): candidates and queries key by a cell at
  ``cell_zoom``; each query probes its cell plus the 8-neighbor ring
  (explode), distances computed JVM-side via the haversine column
  expression, window top-k.  Exact whenever the true kth neighbor lies
  within one cell ring (cell_zoom must be chosen so cell size >>
  expected kth distance); :func:`knn_cell_audit` measures the
  under-filled-query count at runtime (kth distance vs the ring-boundary
  guard radius).

Distance = haversine meters on R=6371000 (matching the reference's
spherical length strategy).  Ties break on candidate id for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sql import tile_exprs as TE


def knn_join_broadcast(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
) -> DataFrame:
    """Exact kNN with a broadcast cross join; queries side must be small.

    Output: (query_id, rank 1..k, cand_id, dist_m) — rank ordered by
    (dist_m, cand_id).
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )
    c = candidates.select(
        F.col(cand_id).alias("cand_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    )
    joined = c.crossJoin(F.broadcast(q))
    dist = TE.haversine_m(
        F.col("_qlon"), F.col("_qlat"), F.col("_clon"), F.col("_clat")
    ).alias("dist_m")
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(),
                                               F.col("cand_id").asc())
    return (
        joined.select("query_id", "cand_id", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", "dist_m")
    )


def knn_join_cell(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    cell_zoom: int = 5,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
) -> DataFrame:
    """Cell + 8-neighbor-ring kNN for large query sets (the scale path).

    Both sides shuffle once on the compact cell key; no cross join.
    """
    nmax = (1 << cell_zoom) - 1
    cx = F.least(F.greatest(TE.lon2tilex(F.col(c_lon), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    cy = F.least(F.greatest(TE.lat2tiley(F.col(c_lat), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    c = candidates.select(
        F.col(cand_id).alias("cand_id"),
        F.col(c_lon).alias("_clon"), F.col(c_lat).alias("_clat"),
        TE.tile_id(cell_zoom, cx, cy).alias("_cell"),
    )

    qx = F.least(F.greatest(TE.lon2tilex(F.col(q_lon), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    qy = F.least(F.greatest(TE.lat2tiley(F.col(q_lat), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat"),
        qx.alias("_qx"), qy.alias("_qy"),
    )
    # probe own cell + 8 neighbors (x wraps at the antimeridian, y clamps)
    ring = F.array(*[
        F.struct(
            F.pmod(F.col("_qx") + F.lit(dx), F.lit(nmax + 1)).alias("x"),
            F.least(F.greatest(F.col("_qy") + F.lit(dy), F.lit(0)),
                    F.lit(nmax)).alias("y"),
        )
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    q = (
        q.withColumn("_probe", F.explode(F.array_distinct(ring)))
        .withColumn("_cell", TE.tile_id(cell_zoom, F.col("_probe.x"),
                                        F.col("_probe.y")))
        .drop("_probe", "_qx", "_qy")
    )
    joined = q.join(c, on="_cell", how="inner")
    dist = TE.haversine_m(
        F.col("_qlon"), F.col("_qlat"), F.col("_clon"), F.col("_clat")
    ).alias("dist_m")
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(),
                                               F.col("cand_id").asc())
    return (
        joined.select("query_id", "cand_id", dist)
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", "dist_m")
    )


def knn_cell_audit(
    result: DataFrame,
    queries: DataFrame,
    k: int,
    cell_zoom: int = 5,
    query_id: str = "query_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
) -> DataFrame:
    """Exactness audit for :func:`knn_join_cell`: the fixed 3x3 ring is
    exact for a query iff its kth-neighbor distance is within the
    distance from the query point to the ring's boundary (and it found k
    candidates at all).  Returns one row per query:
    (query_id, n_found, kth_dist_m, guard_m, under_filled boolean) —
    ``under_filled`` queries may have missed true neighbors outside the
    ring.  Aggregate ``sum(under_filled)`` for the runtime counter the
    operator's docstring promises."""
    guard = _ring_guard_m(F.col(q_lon), F.col(q_lat),
                          cell_zoom).alias("guard_m")
    qg = queries.select(F.col(query_id).alias("query_id"), guard)
    per_q = result.groupBy("query_id").agg(
        F.count("*").alias("n_found"),
        F.max("dist_m").alias("kth_dist_m"),
    )
    out = qg.join(per_q, on="query_id", how="left")
    return out.select(
        "query_id",
        F.coalesce("n_found", F.lit(0)).alias("n_found"),
        F.coalesce("kth_dist_m", F.lit(float("inf"))).alias("kth_dist_m"),
        "guard_m",
        ((F.coalesce("n_found", F.lit(0)) < k)
         | (F.coalesce("kth_dist_m", F.lit(float("inf")))
            > F.col("guard_m"))).alias("under_filled"),
    )


def _ring_guard_m(lon, lat, cell_zoom: int):
    """Distance (m) from a point to the boundary of its 3x3 cell ring —
    the radius within which the ring join is provably exhaustive."""
    nmax = (1 << cell_zoom) - 1
    span = 360.0 / (1 << cell_zoom)
    qx = F.least(F.greatest(TE.lon2tilex(lon, cell_zoom), F.lit(0)),
                 F.lit(nmax))
    qy = F.least(F.greatest(TE.lat2tiley(lat, cell_zoom), F.lit(0)),
                 F.lit(nmax))
    # ring boundary in lon / latp degrees: x in [qx-1, qx+2], y likewise
    lon_lo = (qx - 1).cast("double") * F.lit(span) - F.lit(180.0)
    lon_hi = (qx + 2).cast("double") * F.lit(span) - F.lit(180.0)
    latp_hi = F.lit(180.0) - (qy - 1).cast("double") * F.lit(span)
    latp_lo = F.lit(180.0) - (qy + 2).cast("double") * F.lit(span)
    # latp -> lat: lat = 2*atan(exp(rad(latp))) - pi/2, in degrees
    lat_of = (lambda latp: F.degrees(
        F.lit(2.0) * F.atan(F.exp(F.radians(latp)))
        - F.lit(3.141592653589793 / 2)))
    # nearest points on the 4 ring edges (clamp the free coordinate)
    return F.least(
        TE.haversine_m(lon, lat, lon_lo, lat),
        TE.haversine_m(lon, lat, lon_hi, lat),
        TE.haversine_m(lon, lat, lon, lat_of(latp_lo)),
        TE.haversine_m(lon, lat, lon, lat_of(latp_hi)),
    )


def radius_join_cell(
    queries: DataFrame,
    candidates: DataFrame,
    radius_m: float,
    cell_zoom: int = 4,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
) -> DataFrame:
    """Distance-band join (ST_DWithin analogue): every (query,
    candidate) pair within ``radius_m`` haversine meters.

    The reference engine has no distance join; this is the graft-side
    completion of the spatial-join family (PIP / Intersects / CoveredBy
    / kNN / DWithin).  Scale path: both sides shuffle ONCE on the
    compact cell key at ``cell_zoom``; each query probes its own cell
    plus the 8-neighbor ring — no cross join at any corpus size, and
    the per-cell fan-out is bounded by the cell occupancy (pick
    ``cell_zoom`` so cells hold ~10^4 rows at the target scale; skewed
    urban cells are the documented salting candidates, exactly as in
    the PIP cell path).

    Exactness: the fixed 3x3 ring is exhaustive iff ``radius_m`` ≤ the
    query's ring-boundary guard distance; :func:`radius_join_audit`
    returns the per-query guard so a caller can assert coverage at
    runtime (the driver query's fixture satisfies it by construction —
    min guard 1,145 km at zoom 4 vs a 1,000 km radius).

    Output: (query_id, cand_id, dist_m), dist_m ≤ radius_m.
    """
    nmax = (1 << cell_zoom) - 1
    cx = F.least(F.greatest(TE.lon2tilex(F.col(c_lon), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    cy = F.least(F.greatest(TE.lat2tiley(F.col(c_lat), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    c = candidates.select(
        F.col(cand_id).alias("cand_id"),
        F.col(c_lon).alias("_clon"), F.col(c_lat).alias("_clat"),
        TE.tile_id(cell_zoom, cx, cy).alias("_cell"),
    )
    qx = F.least(F.greatest(TE.lon2tilex(F.col(q_lon), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    qy = F.least(F.greatest(TE.lat2tiley(F.col(q_lat), cell_zoom), F.lit(0)),
                 F.lit(nmax))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat"),
        qx.alias("_qx"), qy.alias("_qy"),
    )
    ring = F.array(*[
        F.struct(
            F.pmod(F.col("_qx") + F.lit(dx), F.lit(nmax + 1)).alias("x"),
            F.least(F.greatest(F.col("_qy") + F.lit(dy), F.lit(0)),
                    F.lit(nmax)).alias("y"),
        )
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    q = (
        q.withColumn("_probe", F.explode(F.array_distinct(ring)))
        .withColumn("_cell", TE.tile_id(cell_zoom, F.col("_probe.x"),
                                        F.col("_probe.y")))
        .drop("_probe", "_qx", "_qy")
    )
    joined = q.join(c, on="_cell", how="inner")
    dist = TE.haversine_m(
        F.col("_qlon"), F.col("_qlat"), F.col("_clon"), F.col("_clat")
    ).alias("dist_m")
    return (
        joined.select("query_id", "cand_id", dist)
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .dropDuplicates(["query_id", "cand_id"])
    )


def radius_join_audit(
    queries: DataFrame,
    radius_m: float,
    cell_zoom: int = 4,
    query_id: str = "query_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
) -> DataFrame:
    """Coverage audit for :func:`radius_join_cell`: one row per query
    with its ring-boundary guard distance and ``covered`` =
    (radius_m ≤ guard_m).  Any uncovered query may be missing true
    pairs beyond its ring; aggregate ``sum(NOT covered)`` as the
    runtime exactness counter."""
    guard = _ring_guard_m(F.col(q_lon), F.col(q_lat), cell_zoom)
    return queries.select(
        F.col(query_id).alias("query_id"),
        guard.alias("guard_m"),
        (F.lit(float(radius_m)) <= guard).alias("covered"),
    )
